"""TPC-H query-shape completion: the decision-support SHAPES the
catalog did not yet exercise, adapted to this star schema.

Rounds 1-6 covered Q1 (returnflag_summary), Q2 (cheapest_supplier_
per_part), Q3 (shipping_priority_top10) and Q5 (local_supplier_
revenue). This module adds the remaining structurally DISTINCT
members of the family — each one exists to exercise a different
optimizer/physical capability, and each carries a full DuckDB oracle:

* Q13 — left-outer join with a predicate INSIDE the join condition,
  then an aggregate of an aggregate (the customer-distribution shape).
* Q14 — conditional-aggregation share (CASE inside sum over a join).
* Q17 — correlated scalar subquery against a per-group average,
  decorrelated into a broadcast re-join.
* Q21 — EXISTS + NOT EXISTS on the same relation (the oracle keeps
  the textbook correlated form; the Spark plan uses the equivalent
  one-pass order-grain aggregation — two formulations, one result).
* Q22 — global scalar subquery threshold + anti join.
* Q11 — HAVING against a scalar subquery over the same aggregate
  (compared in EXACT integer cents so the cut is boundary-stable).
* Q16 — NOT IN exclusion + multi-key COUNT DISTINCT.
* Q19 — disjunction of multi-column conjuncts spanning both join
  sides (the OR-of-ANDs predicate that cannot ride the equi-key).
* Q7 — bidirectional two-nation flow matrix (join-reorder stress).
* Q15 — argmax-with-ties against a scalar max (view-over-aggregate).
* Q8 — market share: the CASE numerator over an 8-table two-role tree.
* Q9 — profit decomposition: a measure spanning two fact-dim joins.
* Q10 — top-k by filtered-fact revenue with a deterministic cents cut.
* Q18 — HAVING-IN membership subquery (decorrelated agg-then-join).
* Q20 — nested aggregates at two grains + integer majority test.

With these the full TPC-H query set is represented: Q1/Q2/Q3/Q5 from
earlier rounds, Q4 ≡ the semi-join shape (returning_customers_semi),
Q6 ≡ single-table filter-aggregate (valid_lines_unit_price), Q12 ≡
join + conditional aggregation by category (promo_revenue_share's
shape; this schema has no shipmode column) — every other number has
a dedicated entry in this module.

Reference intent: the reference's notebooks run pandas groupbys on
one flat trip table (`notebooks/comprehensive_trip_analysis.ipynb`);
these entries are the star-schema decision-support queries a user of
a real warehouse runs daily. Revenue sums follow the round-6 exact-
integer-cents convention (double Σ is order-dependent past the 4th
decimal at sf1+), and every threshold comparison that could straddle
a float boundary is done in scaled integers.

Scale posture (shared): nation/region/part-slices are broadcast;
customer/supplier/orders/lineitem joins shuffle on their keys with
AQE free to broadcast-convert at runtime; every aggregate is a
map-side-partial hash agg; no UDFs, no collects, no windows over
unbounded domains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cents, cents_sql, money_sum, money_sum_sql
from .queries import query, t

__all__: list[str] = []


def _rev() -> F.Column:
    """Discounted line revenue; ``_REV`` is its SQL text."""
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def _rev_cents() -> F.Column:
    return cents(_rev())


_REV = "l.l_extendedprice * (1 - l.l_discount)"


# ---------------------------------------------------------------------------
# Q13 — customer order-count distribution
# ---------------------------------------------------------------------------


@query(
    "order_count_distribution",
    """
    WITH per_cust AS (
      SELECT c.c_custkey,
             CAST(count(o.o_orderkey) AS BIGINT) AS order_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey
       AND o.o_orderpriority <> '1-URGENT'
      GROUP BY 1
    )
    SELECT order_count,
           CAST(count(*) AS BIGINT) AS num_customers
    FROM per_cust GROUP BY 1
    """,
)
def order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13's shape: how many customers placed 0, 1, 2, …
    non-urgent orders — the distribution histogram behind "how
    engaged is the customer base". The structural point is the
    predicate INSIDE the left-outer join condition: filtering
    ``o_orderpriority`` in a WHERE would silently drop the zero-order
    customers the left join exists to keep; in the ON clause it only
    suppresses matches. ``count(o_orderkey)`` (not ``count(*)``)
    makes unmatched customers count 0.

    Scale: one shuffle join on custkey (AQE may broadcast the
    filtered orders side at small SF), one hash agg per grain; the
    second aggregate runs over ≤ max-orders-per-customer rows."""
    cu = t(spark, sf_dir, "customer")
    od = t(spark, sf_dir, "orders")
    per_cust = (
        cu.join(
            od,
            (cu.c_custkey == od.o_custkey)
            & (od.o_orderpriority != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("order_count"))
    )
    return per_cust.groupBy("order_count").agg(
        F.count(F.lit(1)).alias("num_customers")
    )


# ---------------------------------------------------------------------------
# Q14 — promotion revenue share
# ---------------------------------------------------------------------------


@query(
    "promo_revenue_share",
    f"""
    SELECT CAST(sum(CASE WHEN p.p_type = 'PROMO'
                         THEN {cents_sql(_REV)} ELSE 0 END) AS DOUBLE) / 100
             AS promo_revenue,
           {money_sum_sql(_REV)} AS total_revenue,
           100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                            THEN {cents_sql(_REV)} ELSE 0 END)
                 / sum({cents_sql(_REV)}) AS promo_share_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
      AND l.l_shipdate <  TIMESTAMP '1996-10-01'
    """,
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14's shape: the share of one month's revenue that came
    from PROMO-type parts — conditional aggregation (CASE inside the
    Σ) over a fact⋈dim join, the "campaign effectiveness" number.

    Scale: the date filter prunes lineitem at the scan; part is
    broadcast (2k rows/SF slice). Both Σ are exact integer cents, so
    the final share is a division of two exactly-represented
    integers — bit-identical cross-engine with no rounding."""
    li = t(spark, sf_dir, "lineitem")
    pa = t(spark, sf_dir, "part")
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", _rev_cents()).otherwise(
            F.lit(0)
        )
    )
    total = F.sum(_rev_cents())
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
        )
        .join(F.broadcast(pa), li.l_partkey == pa.p_partkey)
        .agg(
            (promo.cast("double") / 100).alias("promo_revenue"),
            (total.cast("double") / 100).alias("total_revenue"),
            (F.lit(100.0) * promo / total).alias("promo_share_pct"),
        )
    )


# ---------------------------------------------------------------------------
# Q17 — small-quantity-order revenue (correlated scalar subquery)
# ---------------------------------------------------------------------------


@query(
    "small_quantity_avg_loss",
    f"""
    SELECT {money_sum_sql("l.l_extendedprice")} / 7.0 AS avg_yearly,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23'
      AND l.l_quantity < (
        SELECT 0.2 * avg(l2.l_quantity)
        FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
    """,
)
def small_quantity_avg_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17's shape: revenue tied up in unusually small orders of
    one brand's parts — each line qualifies only if its quantity is
    below 20% of ITS PART's average quantity. The oracle keeps the
    textbook correlated scalar subquery; the Spark plan is the
    decorrelated form every optimizer rewrites it to: per-part
    averages as a broadcast re-join (the brand slice bounds it to
    ~1/25 of parts). Cross-checking the two formulations is the point.

    Numeric posture: quantities are integer-valued doubles, so
    ``avg = Σ/n`` is exact in both engines (integer Σ < 2^53) and the
    ``< 0.2·avg`` cut cannot straddle a float boundary differently
    per engine. Price Σ in exact cents; /7.0 last."""
    li = t(spark, sf_dir, "lineitem")
    pa = t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    brand_lines = li.join(
        F.broadcast(pa.select("p_partkey")),
        li.l_partkey == F.col("p_partkey"),
    )
    # per-part average over ALL lines of that part (not only the
    # brand's — the subquery correlates on partkey alone; brand parts
    # ARE the only consumers here, but staying faithful to the oracle
    # means averaging the full lineitem slice per partkey)
    per_part = (
        li.join(
            F.broadcast(pa.select(F.col("p_partkey").alias("_pk"))),
            li.l_partkey == F.col("_pk"),
        )
        .groupBy("l_partkey")
        .agg(F.avg("l_quantity").alias("_avg_qty"))
        .select(F.col("l_partkey").alias("_apk"), "_avg_qty")
    )
    return (
        brand_lines.join(
            F.broadcast(per_part), brand_lines.l_partkey == F.col("_apk")
        )
        .filter(F.col("l_quantity") < 0.2 * F.col("_avg_qty"))
        .agg(
            (money_sum(F.col("l_extendedprice")) / 7.0).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Q21 — sole-blame suppliers (EXISTS + NOT EXISTS)
# ---------------------------------------------------------------------------


@query(
    "sole_blame_suppliers",
    """
    WITH os AS (
      SELECT l_orderkey AS ok, l_suppkey AS sk,
             max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS r
      FROM lineitem GROUP BY 1, 2
    )
    SELECT s.s_name AS supplier,
           CAST(count(*) AS BIGINT) AS blamed_orders
    FROM os o1 JOIN supplier s ON o1.sk = s.s_suppkey
    WHERE o1.r = 1
      AND EXISTS (SELECT 1 FROM os o2
                  WHERE o2.ok = o1.ok AND o2.sk <> o1.sk)
      AND NOT EXISTS (SELECT 1 FROM os o3
                      WHERE o3.ok = o1.ok AND o3.sk <> o1.sk
                        AND o3.r = 1)
    GROUP BY 1
    """,
)
def sole_blame_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21's shape: suppliers who were the SOLE supplier with
    returned lines on a multi-supplier order — "who alone let the
    order down". The oracle keeps the textbook EXISTS + NOT EXISTS
    correlated pair; the Spark plan uses the equivalent order-grain
    aggregation: per order, count suppliers and R-suppliers, and when
    exactly one supplier has returns on a ≥2-supplier order, that
    supplier takes the blame (``max(when)`` extracts it without a
    second join — exactly-one makes max the identity).

    Two genuinely different query plans reaching one result is the
    strongest kind of oracle row. Scale: one hash agg to the
    (order, supplier) grain, one to the order grain, one to the
    supplier grain — no correlated per-row probes anywhere."""
    li = t(spark, sf_dir, "lineitem")
    su = t(spark, sf_dir, "supplier")
    os_ = li.groupBy(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sk")
    ).agg(
        F.max(
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
        ).alias("r")
    )
    per_order = os_.groupBy("ok").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("r").alias("n_r"),
        F.max(F.when(F.col("r") == 1, F.col("sk"))).alias("blame_sk"),
    )
    return (
        per_order.filter((F.col("n_supp") > 1) & (F.col("n_r") == 1))
        .groupBy("blame_sk")
        .agg(F.count(F.lit(1)).alias("blamed_orders"))
        .join(F.broadcast(su), F.col("blame_sk") == su.s_suppkey)
        .select(F.col("s_name").alias("supplier"), "blamed_orders")
    )


# ---------------------------------------------------------------------------
# Q22 — idle rich customers (scalar threshold + anti join)
# ---------------------------------------------------------------------------


@query(
    "idle_rich_customers",
    f"""
    WITH thr AS (
      SELECT CAST(sum({cents_sql("c_acctbal")}) AS DOUBLE)
               / (100.0 * count(*)) AS avg_bal
      FROM customer WHERE c_acctbal > 0
    )
    SELECT n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_customers,
           {money_sum_sql("c.c_acctbal")} AS total_balance
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey, thr
    WHERE c.c_acctbal > thr.avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY 1
    """,
)
def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22's shape: customers with above-average account
    balances who have placed no order since 2000 — per nation, the
    "dormant high-value accounts" a win-back campaign targets. Two
    structural pieces: a GLOBAL scalar subquery threshold (average
    positive balance) and an ANTI join against recent orders.

    Numeric posture: the threshold is Σ(exact cents)/(100·n) — exact
    integers into one division — so the ``> avg`` cut lands on the
    same side in both engines. Scale: the threshold is a 1-row
    broadcast; the anti join shuffles on custkey (AQE-skew-safe); the
    date filter prunes orders before the join."""
    cu = t(spark, sf_dir, "customer")
    od = t(spark, sf_dir, "orders")
    na = t(spark, sf_dir, "nation")
    thr = cu.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(cents(F.col("c_acctbal"))).cast("double")
            / (F.lit(100.0) * F.count(F.lit(1)))
        ).alias("avg_bal")
    )
    recent = od.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        cu.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, cu.c_custkey == recent.o_custkey, "left_anti")
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            money_sum(F.col("c_acctbal")).alias("total_balance"),
        )
    )


# ---------------------------------------------------------------------------
# Q11 — important parts by share of total value
# ---------------------------------------------------------------------------


@query(
    "important_parts_value",
    f"""
    WITH pv AS (
      SELECT l.l_partkey AS partkey,
             sum({cents_sql(_REV)}) AS value_cents
      FROM lineitem l GROUP BY 1
    )
    SELECT CAST(partkey AS BIGINT) AS partkey,
           CAST(value_cents AS DOUBLE) / 100 AS part_value
    FROM pv, (SELECT sum(value_cents) AS total_cents,
                     count(*) AS n_parts FROM pv) tot
    WHERE value_cents * tot.n_parts * 2 > 3 * tot.total_cents
    """,
)
def important_parts_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11's shape: parts whose traded value exceeds 1.5× the
    MEAN part value — HAVING against a scalar subquery over the same
    aggregate (the "concentration watchlist"). Q11's spec threshold is
    a fixed fraction of the total that the spec itself rescales per SF
    (0.0001/SF); a mean-relative cut is the scale-free equivalent —
    non-empty at every SF without an SF-aware constant. The compare
    runs in SCALED EXACT INTEGERS (``value_cents·n_parts·2 >
    3·total_cents``) — a float fraction-of-total would put borderline
    parts on different sides per engine; integer arithmetic cannot.

    Scale: ONE hash agg to the part grain; the grand total is a
    second aggregate OVER THAT RESULT (reused exchange, not a second
    lineitem scan) broadcast back as one row."""
    li = t(spark, sf_dir, "lineitem")
    pv = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(_rev_cents()).alias("value_cents")
    )
    tot = pv.agg(
        F.sum("value_cents").alias("total_cents"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(
            F.col("value_cents") * F.col("n_parts") * 2
            > 3 * F.col("total_cents")
        )
        .select(
            F.col("partkey").cast("long").alias("partkey"),
            (F.col("value_cents").cast("double") / 100).alias(
                "part_value"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Q16 — supplier counts by part attributes with NOT-IN exclusion
# ---------------------------------------------------------------------------


@query(
    "brand_type_supplier_counts",
    """
    SELECT p.p_brand AS brand, p.p_type AS ptype,
           CAST(p.p_size AS BIGINT) AS psize,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#5'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 9, 17, 25, 33, 41, 49)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
)
def brand_type_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16's shape: how many DISTINCT qualified suppliers can
    ship each (brand, type, size) combination — sourcing diversity,
    with a NOT IN exclusion list (suppliers in poor standing,
    ``s_acctbal < 0``, standing in for the reference's
    complaint-comment scan).

    Scale: the part slice (7 sizes, brand/type excluded) is a
    broadcast; the exclusion list is a broadcast LEFT ANTI join
    (NOT IN over a non-null key column is exactly anti-join
    semantics); count(DISTINCT) shuffles once on the group keys with
    a partial distinct on the map side."""
    li = t(spark, sf_dir, "lineitem")
    pa = t(spark, sf_dir, "part")
    su = t(spark, sf_dir, "supplier")
    sizes = [1, 9, 17, 25, 33, 41, 49]
    pslice = pa.filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(sizes))
    )
    bad = su.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(pslice), li.l_partkey == pslice.p_partkey)
        .join(
            F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti"
        )
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("ptype"),
            F.col("p_size").cast("long").alias("psize"),
        )
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# Q19 — disjunctive multi-column join predicate
# ---------------------------------------------------------------------------


@query(
    "disjunctive_basket_revenue",
    f"""
    SELECT {money_sum_sql(_REV)} AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def disjunctive_basket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19's shape: revenue from three OR'd brand/size/quantity
    baskets — the disjunction spans BOTH join sides, so it cannot ride
    the equi-key and survives as a post-join filter; the optimizer's
    job is to still push the derivable part-only prefix (brand ∈ the
    three, size ≤ 35) below the join. Catalyst does this via
    constraint propagation; part stays a broadcast either way.

    One output row in exact cents; the line count pins that both
    engines kept the same rows, not just the same Σ."""
    li = t(spark, sf_dir, "lineitem")
    pa = t(spark, sf_dir, "part")
    q = F.col("l_quantity")
    sz = F.col("p_size")
    br = F.col("p_brand")
    basket = (
        ((br == "Brand#12") & sz.between(1, 15) & q.between(1, 11))
        | ((br == "Brand#23") & sz.between(1, 25) & q.between(10, 20))
        | ((br == "Brand#34") & sz.between(1, 35) & q.between(20, 30))
    )
    return (
        li.join(F.broadcast(pa), li.l_partkey == pa.p_partkey)
        .filter(basket)
        .agg(
            money_sum(_rev()).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Q7 — bidirectional nation trade flows
# ---------------------------------------------------------------------------


@query(
    "nation_trade_flows",
    f"""
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           {money_sum_sql(_REV)} AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation ns ON s.s_nationkey = ns.n_nationkey
    JOIN nation nc ON c.c_nationkey = nc.n_nationkey
    WHERE ((ns.n_name = 'NATION_3' AND nc.n_name = 'NATION_7')
        OR (ns.n_name = 'NATION_7' AND nc.n_name = 'NATION_3'))
      AND year(o.o_orderdate) IN (1996, 1997)
    GROUP BY 1, 2, 3
    """,
)
def nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7's shape: shipping volume BETWEEN two nations, both
    directions, per year — the bilateral-trade matrix. Structurally
    it self-joins the nation dim under two roles (supplier's vs
    customer's) with a symmetric OR across the pair — a join-reorder
    stress: the optimizer must see that both nation probes are tiny
    and that the OR cannot collapse into either single probe.

    Scale: both nation roles broadcast; the OR predicate evaluates
    post-join on broadcast columns (no shuffle inflation); exact
    cents."""
    li = t(spark, sf_dir, "lineitem")
    od = t(spark, sf_dir, "orders")
    cu = t(spark, sf_dir, "customer")
    su = t(spark, sf_dir, "supplier")
    na = t(spark, sf_dir, "nation")
    ns = na.select(
        F.col("n_nationkey").alias("ns_key"),
        F.col("n_name").alias("supp_nation"),
    )
    nc = na.select(
        F.col("n_nationkey").alias("nc_key"),
        F.col("n_name").alias("cust_nation"),
    )
    pair = (
        (F.col("supp_nation") == "NATION_3")
        & (F.col("cust_nation") == "NATION_7")
    ) | (
        (F.col("supp_nation") == "NATION_7")
        & (F.col("cust_nation") == "NATION_3")
    )
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(su, li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(ns), su.s_nationkey == F.col("ns_key"))
        .join(F.broadcast(nc), cu.c_nationkey == F.col("nc_key"))
        .filter(pair & F.year("o_orderdate").isin(1996, 1997))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            money_sum(_rev()).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# Q15 — top supplier(s) by quarter revenue (argmax vs scalar max)
# ---------------------------------------------------------------------------


@query(
    "top_revenue_supplier",
    f"""
    WITH sr AS (
      SELECT l.l_suppkey AS suppkey, sum({cents_sql(_REV)}) AS rev_cents
      FROM lineitem l
      WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY 1
    )
    SELECT s.s_name AS supplier,
           CAST(sr.rev_cents AS DOUBLE) / 100 AS total_revenue
    FROM sr JOIN supplier s ON sr.suppkey = s.s_suppkey
    WHERE sr.rev_cents = (SELECT max(rev_cents) FROM sr)
    """,
)
def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15's shape: the supplier(s) whose revenue over one
    quarter equals the MAXIMUM over all suppliers — the
    view-over-aggregate + scalar-max pattern, which unlike a LIMIT 1
    keeps ALL tied winners (the spec's point). Ties are decided in
    exact integer cents, so "equal" is exact in both engines.

    Scale: one filtered hash agg to the supplier grain; the max is a
    1-row aggregate over that result broadcast back — the same
    reused-exchange shape as important_parts_value."""
    li = t(spark, sf_dir, "lineitem")
    su = t(spark, sf_dir, "supplier")
    sr = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
            # explicit isnotnull: the supplier equi-join pushes this
            # constraint into ONE consumer of this subplan; carrying it
            # in the shared source keeps both branches canonically
            # identical so AQE's ReusedExchange fires (the DSIR lesson
            # — one lineitem scan, not two)
            & F.col("l_suppkey").isNotNull()
        )
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(F.sum(_rev_cents()).alias("rev_cents"))
    )
    mx = sr.agg(F.max("rev_cents").alias("_max_cents"))
    return (
        sr.crossJoin(F.broadcast(mx))
        .filter(F.col("rev_cents") == F.col("_max_cents"))
        .join(F.broadcast(su), F.col("suppkey") == su.s_suppkey)
        .select(
            F.col("s_name").alias("supplier"),
            (F.col("rev_cents").cast("double") / 100).alias(
                "total_revenue"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Q8 — market share within a region
# ---------------------------------------------------------------------------


@query(
    "nation_market_share",
    f"""
    SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           CAST(sum(CASE WHEN ns.n_name = 'NATION_3'
                         THEN {cents_sql(_REV)} ELSE 0 END) AS DOUBLE) / 100
             AS nation_revenue,
           {money_sum_sql(_REV)} AS total_revenue,
           sum(CASE WHEN ns.n_name = 'NATION_3'
                    THEN {cents_sql(_REV)} ELSE 0 END) * 1.0 / sum({cents_sql(_REV)})
             AS mkt_share
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation nc ON c.c_nationkey = nc.n_nationkey
    JOIN region r ON nc.n_regionkey = r.r_regionkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation ns ON s.s_nationkey = ns.n_nationkey
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE r.r_name = 'EUROPE' AND p.p_type = 'PROMO'
      AND year(o.o_orderdate) IN (1996, 1997)
    GROUP BY 1
    """,
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8's shape: one nation's market share — the fraction of
    PROMO-part revenue bought by EUROPE-region customers that was
    supplied by NATION_3, per year. The structural stress is the
    8-table join tree with the nation dim under TWO roles where the
    share numerator depends on one role and the denominator on
    neither — the optimizer must keep both probes and let the CASE
    ride the aggregate.

    Scale: nations/region/part broadcast; the share is a ratio of two
    exact-integer Σ — bit-identical cross-engine."""
    li = t(spark, sf_dir, "lineitem")
    od = t(spark, sf_dir, "orders")
    cu = t(spark, sf_dir, "customer")
    su = t(spark, sf_dir, "supplier")
    na = t(spark, sf_dir, "nation")
    re = t(spark, sf_dir, "region")
    pa = t(spark, sf_dir, "part")
    nc = na.select(
        F.col("n_nationkey").alias("nc_key"),
        F.col("n_regionkey").alias("nc_region"),
    )
    ns = na.select(
        F.col("n_nationkey").alias("ns_key"),
        F.col("n_name").alias("supp_nation"),
    )
    nat = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", _rev_cents()).otherwise(
            F.lit(0)
        )
    )
    tot = F.sum(_rev_cents())
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(F.broadcast(nc), cu.c_nationkey == F.col("nc_key"))
        .join(
            F.broadcast(re.filter(F.col("r_name") == "EUROPE")),
            F.col("nc_region") == F.col("r_regionkey"),
        )
        .join(su, li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(ns), su.s_nationkey == F.col("ns_key"))
        .join(
            F.broadcast(pa.filter(F.col("p_type") == "PROMO")),
            li.l_partkey == F.col("p_partkey"),
        )
        .filter(F.year("o_orderdate").isin(1996, 1997))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (nat.cast("double") / 100).alias("nation_revenue"),
            (tot.cast("double") / 100).alias("total_revenue"),
            (nat * F.lit(1.0) / tot).alias("mkt_share"),
        )
    )


# ---------------------------------------------------------------------------
# Q9 — profit by supplier nation and year
# ---------------------------------------------------------------------------


@query(
    "nation_profit_by_year",
    f"""
    SELECT ns.n_name AS nation,
           CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           CAST(sum({cents_sql(_REV)} * 1000
                    - {cents_sql("p.p_retailprice")}
                      * CAST(l.l_quantity AS BIGINT) * 600) AS DOUBLE)
             / 100000 AS profit
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation ns ON s.s_nationkey = ns.n_nationkey
    JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1, 2
    """,
)
def nation_profit_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9's shape: profit decomposition per supplier nation per
    year — revenue minus a 60%-of-retail unit-cost proxy (this schema
    has no partsupp supply cost; the retail price stands in). The
    structural point is an aggregate whose measure SPANS two fact-dim
    joins (price from lineitem, cost from part) over the full history
    — the widest measure expression in the catalog.

    Numeric posture: profit sums in 1/1000-cent integer units
    (rev_cents·1000 − retail_cents·qty·600 — quantities are
    integer-valued), so the Σ is order-independent and the /100000
    into dollars is a single exact division."""
    li = t(spark, sf_dir, "lineitem")
    od = t(spark, sf_dir, "orders")
    su = t(spark, sf_dir, "supplier")
    na = t(spark, sf_dir, "nation")
    pa = t(spark, sf_dir, "part")
    profit_units = F.sum(
        _rev_cents() * F.lit(1000)
        - cents(F.col("p_retailprice"))
        * F.col("l_quantity").cast("long")
        * F.lit(600)
    )
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(su, li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .join(F.broadcast(pa), li.l_partkey == pa.p_partkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg((profit_units.cast("double") / 100000).alias("profit"))
    )


# ---------------------------------------------------------------------------
# Q10 — returned-revenue top customers
# ---------------------------------------------------------------------------


@query(
    "returned_revenue_top_customers",
    f"""
    SELECT CAST(c.c_custkey AS BIGINT) AS custkey,
           c.c_name AS customer,
           n.n_name AS nation,
           {money_sum_sql(_REV)} AS returned_revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-07-01'
      AND o.o_orderdate <  TIMESTAMP '1996-10-01'
    GROUP BY 1, 2, 3
    ORDER BY sum({cents_sql(_REV)}) DESC, custkey
    LIMIT 20
    """,
)
def returned_revenue_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10's shape: the 20 customers who returned the most
    revenue in one quarter — the "who should support call first"
    list. Join tree + filtered fact + top-k; the DESC cut is taken on
    exact integer cents with a custkey tiebreak, so the top-20
    membership is deterministic cross-engine (a double-Σ cut could
    flip tail members by ulp).

    Scale: date filter prunes orders at the scan, returnflag prunes
    lineitem; TakeOrdered(20), never a global sort."""
    cu = t(spark, sf_dir, "customer")
    od = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    na = t(spark, sf_dir, "nation")
    rev = F.sum(_rev_cents())
    return (
        cu.join(
            od.filter(
                (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
            ),
            cu.c_custkey == od.o_custkey,
        )
        .join(
            li.filter(F.col("l_returnflag") == "R"),
            F.col("l_orderkey") == od.o_orderkey,
        )
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .groupBy(
            F.col("c_custkey").cast("long").alias("custkey"),
            F.col("c_name").alias("customer"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            rev.alias("_cents"),
        )
        .orderBy(F.desc("_cents"), F.asc("custkey"))
        .limit(20)
        .select(
            "custkey",
            "customer",
            "nation",
            (F.col("_cents").cast("double") / 100).alias(
                "returned_revenue"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Q18 — large-volume orders (HAVING-IN subquery)
# ---------------------------------------------------------------------------


@query(
    "large_volume_orders",
    """
    SELECT c.c_name AS customer,
           CAST(o.o_custkey AS BIGINT) AS custkey,
           CAST(o.o_orderkey AS BIGINT) AS orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_totalprice AS totalprice,
           CAST(q.total_qty AS DOUBLE) AS total_qty
    FROM orders o
    JOIN (SELECT l_orderkey, sum(l_quantity) AS total_qty
          FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 180) q
      ON o.o_orderkey = q.l_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18's shape: orders whose total line quantity exceeds a
    threshold (the bulk-buyer watchlist) — the HAVING-subquery
    membership filter (the spec writes it as IN (GROUP BY ... HAVING);
    every planner decorrelates it to the agg-then-join used here, and
    the oracle keeps the join form DuckDB produces from the IN).

    Numeric posture: quantities are integer-valued doubles, so the
    HAVING cut (Σ > 180) is exact in both engines. totalprice passes
    through unrounded — same parquet bits both sides.

    Scale: ONE hash agg to the order grain, then key joins; the agg
    output (only above-threshold orders survive) is the small side and
    AQE broadcast-converts it."""
    od = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    cu = t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 180)
    )
    return (
        od.join(big, od.o_orderkey == big.l_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .select(
            F.col("c_name").alias("customer"),
            F.col("o_custkey").cast("long").alias("custkey"),
            F.col("o_orderkey").cast("long").alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_totalprice").alias("totalprice"),
            F.col("total_qty").cast("double").alias("total_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Q20 — dominant part suppliers (nested aggregate semi-join)
# ---------------------------------------------------------------------------


@query(
    "dominant_part_suppliers",
    """
    WITH pl AS (
      SELECT l.l_partkey AS pk, l.l_suppkey AS sk,
             CAST(sum(l.l_quantity) AS BIGINT) AS q
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_type = 'PROMO'
        AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate <  TIMESTAMP '1997-01-01'
      GROUP BY 1, 2),
    pt AS (SELECT pk, CAST(sum(q) AS BIGINT) AS tq FROM pl GROUP BY 1)
    SELECT s.s_name AS supplier, n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS dominated_parts
    FROM pl JOIN pt USING (pk)
    JOIN supplier s ON pl.sk = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE 2 * pl.q > pt.tq
    GROUP BY 1, 2
    """,
)
def dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20's shape: suppliers who dominated a part's supply —
    shipped MORE THAN HALF of a PROMO part's 1996 volume (the spec's
    availqty > 0.5·Σqty correlated check, with shipped volume standing
    in for the absent partsupp stock). Nested aggregates at two grains
    — (part, supplier) then part — joined back with an integer-exact
    majority test (2·q > total), rolled up to the supplier.

    Scale: both aggs share one shuffle lineage (the part-grain agg is
    an aggregate OVER the (part, supplier) result — reused exchange,
    one lineitem scan); quantities summed as exact integers so the
    strict-majority cut cannot straddle a float boundary."""
    li = t(spark, sf_dir, "lineitem")
    pa = t(spark, sf_dir, "part")
    su = t(spark, sf_dir, "supplier")
    na = t(spark, sf_dir, "nation")
    pl = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_partkey").isNotNull()
        )
        .join(
            F.broadcast(
                pa.filter(F.col("p_type") == "PROMO").select("p_partkey")
            ),
            li.l_partkey == F.col("p_partkey"),
        )
        .groupBy(
            F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
        )
        .agg(F.sum("l_quantity").cast("long").alias("q"))
    )
    pt = pl.groupBy("pk").agg(F.sum("q").cast("long").alias("tq"))
    return (
        pl.join(pt, "pk")
        .filter(2 * F.col("q") > F.col("tq"))
        .join(F.broadcast(su), F.col("sk") == su.s_suppkey)
        .join(F.broadcast(na), F.col("s_nationkey") == na.n_nationkey)
        .groupBy(
            F.col("s_name").alias("supplier"),
            F.col("n_name").alias("nation"),
        )
        .agg(F.count(F.lit(1)).alias("dominated_parts"))
    )
