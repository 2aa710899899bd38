"""Market-basket analysis over order line items: frequent part pairs
with support / confidence / lift — the association-rule core (Agrawal,
Imieliński & Swami 1993) every retail-shaped warehouse ships, here in
the exact-counting form a SQL oracle can replay.

Reference scope note: the reference's notebooks stop at top-k
single-dimension counts (zones, hours — SURVEY §2.4 A3/A10); this
family extends the same "what co-occurs" question to item PAIRS, the
first genuinely relational analytics step beyond it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pins import pin
from .queries import query, t

_PAIR_MIN_SUPPORT = 2
_PAIR_TOP_K = 20


def baskets_of(li: DataFrame) -> DataFrame:
    """(l_orderkey, ps) with ps = the order's SORTED deduplicated part
    array — ONE groupBy(order) exchange; collect_set folds the
    (order, part) dedup into the same shuffle, so no separate
    DISTINCT pass exists. Pinned (``pins.pin``): the frame feeds pair
    generation, per-part marginals, and the order total (3
    consumers)."""
    return pin(
        li.groupBy("l_orderkey").agg(
            F.array_sort(F.collect_set("l_partkey")).alias("ps")
        )
    )


def basket_pair_counts(baskets: DataFrame, min_support: int) -> DataFrame:
    """(part_a, part_b, pair_n) exact pair-support counts: pairs
    explode ARRAY-LOCALLY from each sorted basket (element i with
    every later element, so part_a < part_b and duplicate-free by
    construction — no join), then one hash agg. Σ_o C(items_o, 2)
    rows, bounded per order: LINEAR in orders, never |parts|². The
    first cut of this plan (DISTINCT + sort-merge self-join) measured
    α* 1.35 sf1→sf10 from shuffle spill; this two-shuffle form
    measures 0.98 — linear, optimal for linearly-growing pair data
    (SCALING.md round-10)."""
    pair_col = F.expr(
        "flatten(transform(ps, (pa, i) -> "
        "transform(slice(ps, i + 2, size(ps)), "
        "pb -> struct(pa, pb))))"
    )
    return (
        baskets.select(F.explode(pair_col).alias("p"))
        .groupBy(
            F.col("p.pa").alias("part_a"),
            F.col("p.pb").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("pair_n"))
        .filter(F.col("pair_n") >= min_support)
    )


def basket_part_counts(baskets: DataFrame) -> DataFrame:
    """(l_partkey, part_n): per-part distinct-order counts from the
    basket frame (cheap explode of already-deduplicated arrays — no
    rescan of lineitem)."""
    return (
        baskets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("part_n"))
    )

_PAIR_LIFT_SQL = f"""
    WITH b AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (
      SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
      FROM b),
    pc AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS part_n
      FROM b GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS part_a, b2.l_partkey AS part_b,
             CAST(count(*) AS BIGINT) AS pair_n
      FROM b a
      JOIN b b2 ON b2.l_orderkey = a.l_orderkey
                AND b2.l_partkey > a.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {_PAIR_MIN_SUPPORT})
    SELECT p.part_a, p.part_b, p.pair_n,
           ca.part_n AS a_n, cb.part_n AS b_n,
           CAST(p.pair_n AS DOUBLE) / CAST(n.n_orders AS DOUBLE)
             AS support,
           CAST(p.pair_n AS DOUBLE) / CAST(ca.part_n AS DOUBLE)
             AS confidence_a_to_b,
           CAST(p.pair_n * n.n_orders AS DOUBLE)
             / CAST(ca.part_n * cb.part_n AS DOUBLE) AS lift
    FROM pairs p
    JOIN pc ca ON ca.l_partkey = p.part_a
    JOIN pc cb ON cb.l_partkey = p.part_b
    CROSS JOIN n
    ORDER BY lift DESC, p.part_a, p.part_b
    LIMIT {_PAIR_TOP_K}
"""


@query("part_pair_lift", _PAIR_LIFT_SQL)
def part_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} part pairs by LIFT among pairs co-ordered at least
    {s} times: for parts A < B, support = P(A,B), confidence(A→B) =
    P(B|A), lift = P(A,B)/(P(A)·P(B)) over the distinct
    (order, part) basket relation — association rules in their exact
    integer-counting form (no sampling, no approximate itemset
    mining), deterministically ordered (lift DESC, then both keys).
    The RANKED-RULES sibling of ``part_basket_affinity``
    (queries_misc.py — the full support≥3 pair table): both now share
    the two-shuffle basket machinery below; this entry adds
    confidence and the deterministic top-k cut.

    Exactness: every probability is a single IEEE division of exact
    integer counts (pair_n·N and a_n·b_n are exact long products
    first), so both engines produce bit-identical doubles — no
    rounding anywhere.

    Scale shape — the TWO-shuffle plan, measured after the first cut's
    sf10 leg exposed spill: (1) ONE groupBy(order) builds each order's
    sorted deduplicated basket array (collect_set folds the dedup into
    the same exchange — no separate DISTINCT, no sort-merge
    self-join), (2) pairs explode ARRAY-LOCALLY from each sorted
    basket (i<j positions, so part_a < part_b by construction —
    Σ_o C(items_o, 2) rows, ≤ 21 per order in this schema: LINEAR in
    orders, never |parts|²), and ONE hash agg on (part_a, part_b)
    counts them. Per-part counts and the order total reuse the basket
    frame (cheap explode, no rescan). The min-support filter prunes
    the long tail before the two bounded dimension joins, and the
    top-k is a TakeOrdered, never a global sort. A hot part inflates
    its pairs linearly, not quadratically, because pair generation is
    order-local."""
    li = t(spark, sf_dir, "lineitem")
    baskets = baskets_of(li)
    n = baskets.agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    pc = basket_part_counts(baskets)
    pairs = basket_pair_counts(baskets, _PAIR_MIN_SUPPORT)
    ca = pc.select(
        F.col("l_partkey").alias("_ka"), F.col("part_n").alias("a_n")
    )
    cb = pc.select(
        F.col("l_partkey").alias("_kb"), F.col("part_n").alias("b_n")
    )
    out = (
        pairs.join(ca, F.col("part_a") == F.col("_ka"))
        .join(cb, F.col("part_b") == F.col("_kb"))
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "pair_n",
            "a_n",
            "b_n",
            (
                F.col("pair_n").cast("double")
                / F.col("n_orders").cast("double")
            ).alias("support"),
            (
                F.col("pair_n").cast("double")
                / F.col("a_n").cast("double")
            ).alias("confidence_a_to_b"),
            (
                (F.col("pair_n") * F.col("n_orders")).cast("double")
                / (F.col("a_n") * F.col("b_n")).cast("double")
            ).alias("lift"),
        )
    )
    return out.orderBy(
        F.desc("lift"), F.asc("part_a"), F.asc("part_b")
    ).limit(_PAIR_TOP_K)


part_pair_lift.__doc__ = part_pair_lift.__doc__.replace(
    "{k}", str(_PAIR_TOP_K)
).replace("{s}", str(_PAIR_MIN_SUPPORT))
