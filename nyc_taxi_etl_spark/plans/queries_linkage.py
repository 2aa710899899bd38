"""Record-linkage blocking, golden-record entity resolution, and
Pareto-frontier selection entries.

Operator families the catalog did not yet carry, classic published
operators re-expressed on Spark's scale paths:

* ``part_name_linkage`` — sorted-neighborhood record linkage
  (Hernández & Stolfo, SIGMOD 1995): the windowed-adjacency blocker
  that complements the engine's content-hash blockers (shingle LSH /
  q-gram blocking) on SHORT strings, at a guaranteed O(n·w) pair
  budget. Reference intent: the reference's pandas scripts dedup
  zone/vendor lookup rows by exact name match
  (``scripts/analytics_pandas.py:30-71`` candidate matching); the
  sorted neighborhood is the master-data generalization that also
  finds the near-matches.
* ``part_entity_resolution`` — the full merge/purge pipeline:
  blocking → match → connected components → golden-record
  survivorship, composed from the standalone operators.
* ``part_price_skyline`` — the 2-D skyline operator (Börzsönyi,
  Kossmann, Stocker, ICDE 2001): "no part is both cheaper and
  bigger" — dominance analysis, computed windowed (O(n log n)), never
  as the O(n²) dominance self-join.

All carry full DuckDB oracles (the oracle keeps the textbook
formulation — an explicit band join / a direct windowed dominance
test — so the Spark scale path is verified against the published
semantics, not against itself).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cents, cents_sql
from ..operators.dedup import connected_components
from ..operators.neighborhood import sorted_neighborhood_pairs
from ..operators.skyline import skyline_2d
from ..operators.survivorship import golden_record
from .queries import query, t

_LINKAGE_WINDOW = 5
_LINKAGE_MAX_DIST = 2


@query(
    "part_name_linkage",
    f"""
    WITH s AS (
      SELECT p_partkey, p_name,
             row_number() OVER (ORDER BY p_name, p_partkey) AS rn
      FROM part WHERE p_name IS NOT NULL)
    SELECT CAST(a.p_partkey AS BIGINT) AS part_a,
           CAST(b.p_partkey AS BIGINT) AS part_b,
           a.p_name AS name_a,
           b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS name_dist
    FROM s a JOIN s b
      ON b.rn > a.rn AND b.rn <= a.rn + {_LINKAGE_WINDOW}
    WHERE levenshtein(a.p_name, b.p_name) <= {_LINKAGE_MAX_DIST}
    """,
)
def part_name_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood record linkage over part names: candidate
    duplicate-entity pairs whose names sort within 5 positions of
    each other and agree within edit distance 2 — the
    merge/purge blocking strategy (Hernández & Stolfo, SIGMOD'95).

    Why another blocker: shingle-LSH (minhash_lsh_near_pairs) and
    q-gram blocking (fuzzy_near_pairs) need shared n-grams to collide,
    which degrades on SHORT strings like names and codes; sorted
    adjacency exploits lexicographic locality instead and its pair
    budget is exactly n·w no matter how skewed the values are.

    Scale: the global order comes from global_sequence (range exchange
    + driver prefix-sum — no single-partition row_number); the band
    predicate rides an exploded two-key EQUI-join (see
    operators/neighborhood.py); levenshtein is the JVM built-in.
    The oracle keeps the textbook formulation (row_number + band
    join), so the banded equi-join is verified against the published
    semantics. Null names are excluded on BOTH sides: Spark sorts
    nulls first, SQL row_number defaults nulls last — the silent
    cross-engine order divergence the r6 AUC advice flagged — and a
    null name has no linkage semantics anyway."""
    parts = (
        t(spark, sf_dir, "part")
        .select("p_partkey", "p_name")
        .filter(F.col("p_name").isNotNull())
    )
    pairs = sorted_neighborhood_pairs(
        parts, ["p_name", "p_partkey"], window=_LINKAGE_WINDOW
    )
    dist = F.levenshtein(F.col("a_p_name"), F.col("b_p_name"))
    return (
        pairs.withColumn("name_dist", dist.cast("long"))
        .filter(F.col("name_dist") <= _LINKAGE_MAX_DIST)
        .select(
            F.col("a_p_partkey").cast("long").alias("part_a"),
            F.col("b_p_partkey").cast("long").alias("part_b"),
            F.col("a_p_name").alias("name_a"),
            F.col("b_p_name").alias("name_b"),
            "name_dist",
        )
    )


@query(
    "part_price_skyline",
    f"""
    WITH p AS (
      SELECT p_partkey, p_name,
             {cents_sql("p_retailprice")} AS pc,
             CAST(p_size AS BIGINT) AS sz
      FROM part
      WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL),
    m AS (
      SELECT *,
             max(sz) OVER (ORDER BY pc RANGE BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS cheap_max,
             max(sz) OVER (PARTITION BY pc) AS same_max
      FROM p)
    SELECT CAST(p_partkey AS BIGINT) AS part_key,
           p_name,
           CAST(pc AS DOUBLE) / 100 AS retail_price,
           sz AS p_size
    FROM m
    WHERE sz = same_max AND sz > coalesce(cheap_max, -1)
    """,
)
def part_price_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The price/size Pareto frontier of the part catalog: every part
    for which no other part is at-least-as-cheap AND at-least-as-big
    (one strictly better) — the skyline operator (Börzsönyi et al.,
    ICDE 2001), the shape behind every "best tradeoff" shortlist.

    Scale: computed by the bucketed two-phase windowed identity in
    operators/skyline.py — a partitioned RANGE window within fixed
    price buckets plus a bucket-grain prefix max broadcast back —
    never the O(n²) dominance self-join and never an unpartitioned
    data-sized window. Price compares in exact integer cents (catalog
    convention), so the frontier is boundary-stable cross-engine.
    The oracle keeps the single-window textbook form. Rows with a
    NULL price or size are excluded on both sides — dominance is
    undefined over unknowns, and Spark/SQL null-ordering conventions
    differ."""
    p = t(spark, sf_dir, "part").filter(
        F.col("p_retailprice").isNotNull() & F.col("p_size").isNotNull()
    ).select(
        F.col("p_partkey").cast("long").alias("part_key"),
        "p_name",
        cents(F.col("p_retailprice")).alias("price_cents"),
        F.col("p_size").cast("long").alias("p_size"),
    )
    sky = skyline_2d(p, "price_cents", "p_size", bucket_width=5000)
    return sky.select(
        "part_key",
        "p_name",
        (F.col("price_cents").cast("double") / 100).alias("retail_price"),
        "p_size",
    )


def _er_sql() -> str:
    # The ENTIRE match graph is derived at NAME grain (r9). Two exact
    # identities of sorted-neighborhood blocking over a (name, key)
    # sort order make this sound — not an approximation:
    #
    # 1. Candidates: parts sharing a name are CONSECUTIVE in the sort,
    #    so a name run occupies one contiguous rank interval
    #    [rn_lo, rn_hi] — recoverable from cumulative name COUNTS, no
    #    part-level window needed — and a window-w pair between names
    #    A < B exists iff B.rn_lo − A.rn_hi ≤ w (the closest cross-run
    #    pair is last-of-A with first-of-B). Same-name pairs exist iff
    #    the run has ≥ 2 parts (consecutive ranks, distance 0) — kept
    #    as self-loops so multi-part names group even with no
    #    cross-name match.
    # 2. Components: every name run is internally chained for any
    #    window ≥ 1 and every match edge implies a name edge, so
    #    part-graph components are exactly the part sets of name-graph
    #    components.
    #
    # Result: candidates + closure both run on the metadata-sized name
    # table (levenshtein over band-adjacent NAME pairs, not the O(n·w)
    # part pairs — the part-level replay needed 30+ min at sf10; this
    # runs in seconds, so the sf10 oracle gate is feasible), and the
    # 24-stage hop+jump closure converges with huge margin — the
    # earlier PART-grain closure hit its unrolled-stage bound on the
    # non-saturating corpus, where each entity is ~10 stitched
    # 400-part runs whose random keys defeat pointer-jumping's
    # sequential-id fast path (measured: 283 labels after 24 stages,
    # 196 after 36, true 48).
    from .queries_text import _closure_ctes

    return f"""
    WITH nm AS (
      SELECT p_name, count(*) AS cnt
      FROM part WHERE p_name IS NOT NULL GROUP BY 1),
    pos AS (
      SELECT p_name, cnt,
             sum(cnt) OVER (ORDER BY p_name) AS rn_hi,
             sum(cnt) OVER (ORDER BY p_name) - cnt + 1 AS rn_lo
      FROM nm),
    raw AS (
      SELECT a.p_name AS na, b.p_name AS nb
      FROM pos a JOIN pos b
        ON b.rn_lo > a.rn_hi
       AND b.rn_lo <= a.rn_hi + {_LINKAGE_WINDOW}
      WHERE levenshtein(a.p_name, b.p_name) <= {_LINKAGE_MAX_DIST}
      UNION ALL
      SELECT p_name AS na, p_name AS nb FROM pos WHERE cnt >= 2),
    edges AS MATERIALIZED (
      SELECT DISTINCT na AS a, nb AS b FROM raw
      UNION SELECT DISTINCT nb AS a, na AS b FROM raw),
    {_closure_ctes()},
    lab AS (
      SELECT p.p_partkey,
             CASE WHEN c.component IS NULL THEN p.p_partkey
                  ELSE min(p.p_partkey)
                         OVER (PARTITION BY c.component) END AS entity_id
      FROM part p LEFT JOIN comp c ON c.id = p.p_name),
    members AS (
      SELECT l.entity_id, p.*
      FROM lab l JOIN part p ON p.p_partkey = l.p_partkey),
    base AS (
      SELECT CAST(entity_id AS BIGINT) AS entity_id,
             CAST(count(*) AS BIGINT) AS n_members,
             CAST(count(DISTINCT p_name) AS BIGINT) AS n_names,
             arg_min(p_name, p_partkey) AS canonical_name,
             arg_max(p_type, p_partkey) AS recent_type,
             min({cents_sql("p_retailprice")})
               AS min_price_cents,
             max({cents_sql("p_retailprice")})
               AS max_price_cents
      FROM members GROUP BY 1),
    freq AS (
      SELECT entity_id, p_brand,
             row_number() OVER (PARTITION BY entity_id
                                ORDER BY cnt DESC, p_brand ASC) AS rk
      FROM (SELECT entity_id, p_brand, count(*) AS cnt FROM members
            WHERE p_brand IS NOT NULL GROUP BY 1, 2)),
    longn AS (
      SELECT entity_id, p_name,
             row_number() OVER (PARTITION BY entity_id
                                ORDER BY length(p_name) DESC, p_name ASC)
               AS rk
      FROM (SELECT DISTINCT entity_id, p_name FROM members
            WHERE p_name IS NOT NULL))
    SELECT b.*, f.p_brand AS freq_brand, ln.p_name AS long_name
    FROM base b
    LEFT JOIN (SELECT CAST(entity_id AS BIGINT) AS entity_id, p_brand
               FROM freq WHERE rk = 1) f USING (entity_id)
    LEFT JOIN (SELECT CAST(entity_id AS BIGINT) AS entity_id, p_name
               FROM longn WHERE rk = 1) ln USING (entity_id)
    """


@query("part_entity_resolution", _er_sql())
def part_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution with golden-record survivorship:
    sorted-neighborhood blocking → edit-distance match → connected-
    components entity clusters → one canonical row per entity. The
    full merge/purge pipeline (Hernández & Stolfo) composed from the
    engine's standalone operators, each individually oracle-checked.

    Survivorship rules (the "golden record", r8: the DECLARED rule
    menu of ``operators/survivorship.py::golden_record`` — the
    merge/purge literature's standard choices, each deterministic
    under ties and replayed by the oracle):

    * ``canonical_name``  — min_key (value at the smallest member key,
      the components operator's representative convention);
    * ``recent_type``     — most_recent by ``p_partkey`` (the key is
      the recency proxy on this versionless table; on CDC-fed master
      data the rule takes the version/timestamp column);
    * ``freq_brand``      — most_frequent (modal brand; count ties
      break to the smallest brand string);
    * ``long_name``       — longest_string (length ties break to the
      smallest string);
    * price span          — min/max in exact cents.

    ``entity_id`` is the MIN member key. Singletons (parts with no
    match edge) survive as their own entity via the left join +
    coalesce.

    On the driver's fixed-vocabulary corpora no two DISTINCT names sit
    within edit distance 2, so entities there equal exact-name groups;
    on the non-saturating corpus (tools/gen_scale_data.py --vocab-mode
    growing) each entity is ~10 generation-suffixed name variants
    ('red bolt', 'red bolt1', …) merged ACROSS distinct names — the
    transitive closure is genuinely exercised both ways: name runs
    enter as CHAINS of window-5 adjacencies which
    large-star/small-star must collapse across ~log rounds.

    Scale: blocking is the O(n·w) banded equi-join; components never
    hold driver-side graph state (≤2²⁰-edge small-graph short-circuit
    under an explicit contract, large-star/small-star above); the
    golden-record pass is ONE hash agg over the labeled parts.
    Measured (SCALING.md): sub-linear to sf1, α* 1.19 on sf1→sf10 —
    n·log n by construction on THIS corpus, where every name group
    (and with it the longest adjacency chain) grows 10× per SF and the
    component rounds grow with log(chain); with duplicate-group sizes
    independent of corpus size (the realistic master-data case) the
    round count pins and the entry is linear. The
    oracle replays the same pipeline textbook-form: band join +
    hop/jump min-label closure (_closure_ctes) + the same
    survivorship aggregate."""
    parts = t(spark, sf_dir, "part")
    # null names are excluded from BLOCKING on both engines (Spark
    # sorts nulls first, SQL row_number nulls last — the r6 AUC
    # advice's divergence class); null-named parts still surface as
    # singleton entities through the left join below
    pairs = sorted_neighborhood_pairs(
        parts.select("p_partkey", "p_name").filter(
            F.col("p_name").isNotNull()
        ),
        ["p_name", "p_partkey"],
        window=_LINKAGE_WINDOW,
    )
    edges = pairs.filter(
        F.levenshtein(F.col("a_p_name"), F.col("b_p_name"))
        <= _LINKAGE_MAX_DIST
    ).select(
        F.col("a_p_partkey").alias("id_a"),
        F.col("b_p_partkey").alias("id_b"),
    )
    comp = connected_components(edges)
    labeled = parts.join(
        comp.select(
            F.col("node").alias("p_partkey"), F.col("component")
        ),
        "p_partkey",
        "left",
    ).withColumn(
        "entity_id",
        F.coalesce("component", "p_partkey").cast("long"),
    ).withColumn(
        "price_cents", cents(F.col("p_retailprice"))
    )
    counts = labeled.groupBy("entity_id").agg(
        F.count("*").cast("long").alias("n_members"),
        F.count_distinct("p_name").cast("long").alias("n_names"),
    )
    gr = golden_record(
        labeled,
        "entity_id",
        {
            "canonical_name": ("min_key", "p_name"),
            "recent_type": ("most_recent", "p_type", "p_partkey"),
            "min_price_cents": ("min", "price_cents"),
            "max_price_cents": ("max", "price_cents"),
            "freq_brand": ("most_frequent", "p_brand"),
            "long_name": ("longest_string", "p_name"),
        },
        key_col="p_partkey",
    )
    return counts.join(gr, "entity_id").select(
        "entity_id",
        "n_members",
        "n_names",
        "canonical_name",
        "recent_type",
        "min_price_cents",
        "max_price_cents",
        "freq_brand",
        "long_name",
    )


_GOLDEN_SQL = f"""
    WITH o AS (
      SELECT o_custkey, o_orderkey, o_orderstatus, o_orderpriority,
             o_orderdate,
             {cents_sql("o_totalprice")} AS cents
      FROM orders),
    base AS (
      SELECT o_custkey AS custkey,
             CAST(count(*) AS BIGINT) AS n_orders,
             arg_min(o_orderpriority, o_orderkey) AS first_priority,
             min(cents) AS min_cents,
             max(cents) AS max_cents
      FROM o GROUP BY 1),
    recent AS (
      SELECT o_custkey AS custkey, o_orderstatus,
             row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY (o_orderstatus IS NOT NULL) DESC,
                        (o_orderdate IS NOT NULL) DESC,
                        o_orderdate DESC, o_orderstatus DESC) AS rk
      FROM o),
    freq AS (
      SELECT custkey, o_orderstatus,
             row_number() OVER (PARTITION BY custkey
                                ORDER BY cnt DESC, o_orderstatus ASC)
               AS rk
      FROM (SELECT o_custkey AS custkey, o_orderstatus, count(*) AS cnt
            FROM o WHERE o_orderstatus IS NOT NULL GROUP BY 1, 2)),
    longp AS (
      SELECT custkey, o_orderpriority,
             row_number() OVER (PARTITION BY custkey
                                ORDER BY length(o_orderpriority) DESC,
                                         o_orderpriority ASC) AS rk
      FROM (SELECT DISTINCT o_custkey AS custkey, o_orderpriority
            FROM o WHERE o_orderpriority IS NOT NULL))
    SELECT b.custkey, b.n_orders, b.first_priority,
           r.o_orderstatus AS recent_status,
           f.o_orderstatus AS freq_status,
           lp.o_orderpriority AS long_priority,
           b.min_cents, b.max_cents
    FROM base b
    LEFT JOIN (SELECT custkey, o_orderstatus FROM recent WHERE rk = 1) r
      USING (custkey)
    LEFT JOIN (SELECT custkey, o_orderstatus FROM freq WHERE rk = 1) f
      USING (custkey)
    LEFT JOIN (SELECT custkey, o_orderpriority FROM longp WHERE rk = 1) lp
      USING (custkey)
"""


@query("customer_order_golden", _GOLDEN_SQL)
def customer_order_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The survivorship rule menu as a FIRST-CLASS entry (r9): one
    golden record per customer from their order history, exercising
    all six declared rules of ``operators/survivorship.py`` in a
    single call — ``min_key`` (priority of the first-ever order),
    ``most_recent`` (status at the latest order date, date ties to the
    larger status), ``most_frequent`` (modal status, count ties to the
    smallest), ``longest_string`` (most complete priority label),
    ``min``/``max`` (exact-cents spend corridor). This is the
    CDC/master-data shape of survivorship — recency and consensus over
    a keyed history — complementing ``part_entity_resolution``, where
    the same menu runs downstream of blocking + transitive closure.

    Scale: one hash aggregation on o_custkey for the five single-agg
    rules + the member count; ``most_frequent`` adds one
    (entity, value)-grain pre-agg joined back on the same key —
    co-partitioned, no windows over the relation, no broadcasts of
    data-sized frames. Every rule is deterministic under ties, so the
    oracle replays the record value-for-value."""
    from ..operators.survivorship import golden_record

    o = t(spark, sf_dir, "orders").withColumn(
        "cents", cents(F.col("o_totalprice"))
    )
    gr = golden_record(
        o,
        "o_custkey",
        {
            "first_priority": ("min_key", "o_orderpriority"),
            "recent_status": ("most_recent", "o_orderstatus", "o_orderdate"),
            "freq_status": ("most_frequent", "o_orderstatus"),
            "long_priority": ("longest_string", "o_orderpriority"),
            "min_cents": ("min", "cents"),
            "max_cents": ("max", "cents"),
        },
        key_col="o_orderkey",
    )
    counts = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    return counts.join(gr, "o_custkey").select(
        F.col("o_custkey").cast("long").alias("custkey"),
        "n_orders",
        "first_priority",
        "recent_status",
        "freq_status",
        "long_priority",
        "min_cents",
        "max_cents",
    )
