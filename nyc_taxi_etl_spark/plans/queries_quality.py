"""Data-quality catalog query: a declared expectation suite over
lineitem+orders evaluated by ``operators/expectations.py``.

Oracle portability: check names/kinds are shared literals; row-level
and uniqueness counters replay as one conditional-agg CTE, the
referential check as a left-join-null count. Uniqueness keys are
non-null here — Spark's ``count_distinct(struct(...))`` and SQL
``count(DISTINCT (a,b))`` agree whenever no key field is NULL (SQL
DISTINCT-count drops rows with a NULL member; the struct form keeps
them), which is the posture a key-uniqueness check wants anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import anonymize as ops_anonymize
from ..operators import expectations as ex
from .queries import query, t

_CHECK_SQL = """
    WITH base AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(COALESCE(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
          AS v_nn,
        CAST(COALESCE(sum(CASE WHEN l_quantity IS NULL OR l_quantity < 1
                           OR l_quantity > 50 THEN 1 ELSE 0 END), 0) AS BIGINT)
          AS v_qty,
        CAST(COALESCE(sum(CASE WHEN l_discount IS NULL OR l_discount < 0
                           OR l_discount > 0.1 THEN 1 ELSE 0 END), 0) AS BIGINT)
          AS v_disc,
        CAST(COALESCE(sum(CASE WHEN l_returnflag IS NULL
                           OR l_returnflag NOT IN ('A', 'N', 'R')
                      THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_flag,
        CAST(COALESCE(sum(CASE WHEN l_linestatus IS NULL
                           OR NOT regexp_matches(l_linestatus, '^[OF]$')
                      THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_status,
        CAST(COALESCE(sum(CASE WHEN NOT COALESCE(l_extendedprice > 0, FALSE)
                      THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_price,
        CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber))
             AS BIGINT) AS v_uniq
      FROM lineitem),
    refv AS (
      SELECT CAST(count(*) AS BIGINT) AS v
      FROM lineitem l
      LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderkey IS NULL),
    rows_out AS (
      SELECT 'not_null:l_orderkey' AS check_name, 'not_null' AS kind,
             n AS n_rows, v_nn AS n_violations FROM base
      UNION ALL SELECT 'in_range:l_quantity', 'in_range', n, v_qty FROM base
      UNION ALL SELECT 'in_range:l_discount', 'in_range', n, v_disc FROM base
      UNION ALL SELECT 'in_set:l_returnflag', 'in_set', n, v_flag FROM base
      UNION ALL SELECT 'matches:l_linestatus', 'matches', n, v_status
        FROM base
      UNION ALL SELECT 'satisfies:positive_price', 'satisfies', n, v_price
        FROM base
      UNION ALL SELECT 'unique:l_orderkey,l_linenumber', 'unique', n, v_uniq
        FROM base
      UNION ALL SELECT 'referential:lineitem_orders', 'referential',
        (SELECT n FROM base), v FROM refv)
    SELECT check_name, kind, n_rows, n_violations,
           CAST(n_violations = 0 AS BIGINT) AS passed
    FROM rows_out
"""


@query("lineitem_quality_report", _CHECK_SQL)
def lineitem_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared expectation suite over lineitem: null/range/set/regex/
    predicate row checks, composite-key uniqueness, and referential
    integrity to orders — the promotion gate a raw→curated pipeline
    runs (the consolidated form of the reference's scattered validity
    filters, `spark_jobs/utils.py:60-76`).

    Scale: all row+uniqueness checks share ONE scan (conditional
    partial aggs — adding a check adds a counter, not a pass); the
    referential check is one anti-join against the distinct order-key
    set. Output is |checks| rows."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    return ex.run_checks(
        li,
        [
            ex.not_null("l_orderkey"),
            ex.in_range("l_quantity", 1, 50),
            ex.in_range("l_discount", 0.0, 0.1),
            ex.in_set("l_returnflag", ["A", "N", "R"]),
            ex.matches("l_linestatus", "^[OF]$"),
            ex.satisfies("positive_price", F.col("l_extendedprice") > 0),
            ex.unique("l_orderkey", "l_linenumber"),
            ex.referential(
                "l_orderkey", orders, "o_orderkey", "lineitem_orders"
            ),
        ],
    )


_PROFILE_NUM = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_PROFILE_STR = ["l_returnflag", "l_linestatus"]


def _profile_sql() -> str:
    parts = []
    for c in _PROFILE_NUM:
        parts.append(f"""
    SELECT '{c}' AS column,
           CAST(count({c}) AS BIGINT) AS n_nonnull,
           CAST(count(*) - count({c}) AS BIGINT) AS n_null,
           CAST(count(DISTINCT {c}) AS BIGINT) AS ndv,
           CAST(min({c}) AS DOUBLE) AS min_num,
           CAST(max({c}) AS DOUBLE) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str,
           CAST(NULL AS VARCHAR) AS max_str
    FROM lineitem""")
    for c in _PROFILE_STR:
        parts.append(f"""
    SELECT '{c}' AS column,
           CAST(count({c}) AS BIGINT) AS n_nonnull,
           CAST(count(*) - count({c}) AS BIGINT) AS n_null,
           CAST(count(DISTINCT {c}) AS BIGINT) AS ndv,
           CAST(NULL AS DOUBLE) AS min_num,
           CAST(NULL AS DOUBLE) AS max_num,
           min({c}) AS min_str,
           max({c}) AS max_str
    FROM lineitem""")
    return " UNION ALL ".join(parts)


@query("lineitem_column_profile", _profile_sql())
def lineitem_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-TABLE-style column statistics over lineitem: per column
    the non-null/null counts, EXACT distinct count, and min/max
    (numeric columns in their own type; string columns as byte-wise
    lexicographic min/max — identical collation both engines for this
    ASCII data) — the statistics table a warehouse publishes for the
    optimizer and a data-quality dashboard reads for drift. The
    profile companion to ``lineitem_quality_report`` (which checks
    DECLARED expectations; this DESCRIBES the data).

    Scale: multiple exact count(DISTINCT)s plan through Spark's
    Expand — every distinct column multiplies the shuffle by one copy
    of the SCAN rows, so a ~unique column (l_extendedprice, ndv ≈
    rows) dragged through the shared Expand made the whole profile
    carry rows × 7 through one exchange (measured α* 1.43 sf1→sf10,
    242 s — the r7 scaling sweep caught it). The fix is cost-based
    splitting: the five low-NDV columns stay in the fused Expand
    (their partials collapse map-side to a few hundred groups) and
    the high-NDV column gets a DEDICATED two-phase distinct whose
    shuffle carries just that one column — total shuffle ≈ rows, not
    rows × 7. At 100 TB swap exact ndv for HLL (``queries_sketches``'
    approx path); the exact form is the oracle-checkable one. The
    long-form output is a row-local explode of the 1-row wide
    aggregate, not six scans (the oracle replays it as six UNION ALL
    passes — cross-checking differently-shaped plans is the point)."""
    li = t(spark, sf_dir, "lineitem")
    high_ndv = "l_extendedprice"
    aggs = []
    for c in _PROFILE_NUM + _PROFILE_STR:
        aggs += [
            F.count(c).alias(f"{c}__nn"),
            F.min(c).alias(f"{c}__min"),
            F.max(c).alias(f"{c}__max"),
        ]
        if c != high_ndv:
            aggs.append(F.count_distinct(F.col(c)).alias(f"{c}__ndv"))
    aggs.append(F.count(F.lit(1)).alias("__total"))
    ep = li.agg(
        F.count_distinct(F.col(high_ndv)).alias(f"{high_ndv}__ndv")
    )
    wide = li.agg(*aggs).crossJoin(F.broadcast(ep))
    rows = []
    for c in _PROFILE_NUM:
        rows.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"{c}__nn").alias("n_nonnull"),
                (F.col("__total") - F.col(f"{c}__nn")).alias("n_null"),
                F.col(f"{c}__ndv").alias("ndv"),
                F.col(f"{c}__min").cast("double").alias("min_num"),
                F.col(f"{c}__max").cast("double").alias("max_num"),
                F.lit(None).cast("string").alias("min_str"),
                F.lit(None).cast("string").alias("max_str"),
            )
        )
    for c in _PROFILE_STR:
        rows.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"{c}__nn").alias("n_nonnull"),
                (F.col("__total") - F.col(f"{c}__nn")).alias("n_null"),
                F.col(f"{c}__ndv").alias("ndv"),
                F.lit(None).cast("double").alias("min_num"),
                F.lit(None).cast("double").alias("max_num"),
                F.col(f"{c}__min").cast("string").alias("min_str"),
                F.col(f"{c}__max").cast("string").alias("max_str"),
            )
        )
    return wide.select(
        F.explode(F.array(*rows)).alias("p")
    ).select("p.*")


_FD_SQL = """
    SELECT 'o_orderkey -> o_custkey' AS fd,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(coalesce(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS violating_groups,
           CAST(coalesce(max(nd), 0) AS BIGINT) AS max_rhs_variants,
           CAST(CASE WHEN coalesce(sum(CASE WHEN nd > 1 THEN 1 ELSE 0
                END), 0) = 0 THEN 1 ELSE 0 END AS BIGINT) AS passed
    FROM (SELECT o_orderkey, count(DISTINCT o_custkey) AS nd
          FROM orders GROUP BY 1)
    UNION ALL
    SELECT 'o_custkey -> o_orderpriority',
           CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0)
                AS BIGINT),
           CAST(coalesce(max(nd), 0) AS BIGINT),
           CAST(CASE WHEN coalesce(sum(CASE WHEN nd > 1 THEN 1 ELSE 0
                END), 0) = 0 THEN 1 ELSE 0 END AS BIGINT)
    FROM (SELECT o_custkey, count(DISTINCT o_orderpriority) AS nd
          FROM orders GROUP BY 1)
    UNION ALL
    SELECT 'l_orderkey, l_linenumber -> l_partkey',
           CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0)
                AS BIGINT),
           CAST(coalesce(max(nd), 0) AS BIGINT),
           CAST(CASE WHEN coalesce(sum(CASE WHEN nd > 1 THEN 1 ELSE 0
                END), 0) = 0 THEN 1 ELSE 0 END AS BIGINT)
    FROM (SELECT l_orderkey, l_linenumber,
                 count(DISTINCT l_partkey) AS nd
          FROM lineitem GROUP BY 1, 2)
    UNION ALL
    SELECT 'l_orderkey -> l_returnflag',
           CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0)
                AS BIGINT),
           CAST(coalesce(max(nd), 0) AS BIGINT),
           CAST(CASE WHEN coalesce(sum(CASE WHEN nd > 1 THEN 1 ELSE 0
                END), 0) = 0 THEN 1 ELSE 0 END AS BIGINT)
    FROM (SELECT l_orderkey, count(DISTINCT l_returnflag) AS nd
          FROM lineitem GROUP BY 1)
    UNION ALL
    SELECT 'l_partkey -> l_suppkey',
           CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0)
                AS BIGINT),
           CAST(coalesce(max(nd), 0) AS BIGINT),
           CAST(CASE WHEN coalesce(sum(CASE WHEN nd > 1 THEN 1 ELSE 0
                END), 0) = 0 THEN 1 ELSE 0 END AS BIGINT)
    FROM (SELECT l_partkey, count(DISTINCT l_suppkey) AS nd
          FROM lineitem GROUP BY 1)
"""


@query("order_line_fd_audit", _FD_SQL)
def order_line_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit over orders+lineitem: five declared
    FDs profiled in one report — the key-discovery / denormalization-
    safety primitive (operators/expectations.py::fd_check). On this
    synthetic data only ``o_orderkey → o_custkey`` holds; the report's
    job is to SAY so with violation counts and the worst group's
    variant count, not to assume the schema's nominal keys (notably,
    (l_orderkey, l_linenumber) does NOT determine l_partkey here —
    line numbers repeat within an order in the generator).

    Scale: one exact distinct-count aggregation per FD (map-side
    partial expand/merge), each reduced to a 1-row summary before the
    union — no joins, no windows, nothing driver-side."""
    od = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    return ex.fd_check(
        od,
        [(["o_orderkey"], "o_custkey"), (["o_custkey"], "o_orderpriority")],
    ).unionByName(
        ex.fd_check(
            li,
            [
                (["l_orderkey", "l_linenumber"], "l_partkey"),
                (["l_orderkey"], "l_returnflag"),
                (["l_partkey"], "l_suppkey"),
            ],
        )
    )


_KANON_SQL = """
    WITH g AS (
      SELECT c_mktsegment, c_nationkey, count(*) AS n,
             count(DISTINCT floor(c_acctbal / 1000)) AS l
      FROM customer GROUP BY 1, 2),
    ks AS (SELECT unnest([2, 5, 10, 25]) AS k)
    SELECT CAST(k AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN n < k THEN 1 ELSE 0 END) AS BIGINT)
             AS groups_below_k,
           CAST(sum(CASE WHEN n < k THEN n ELSE 0 END) AS BIGINT)
             AS rows_below_k,
           CAST(sum(CASE WHEN n < k THEN n ELSE 0 END) AS DOUBLE)
             / CAST(sum(n) AS DOUBLE) AS pct_rows_below_k,
           CAST(min(n) AS BIGINT) AS min_group_size,
           CAST(min(l) AS BIGINT) AS min_l_diversity
    FROM g CROSS JOIN ks GROUP BY k
"""


@query("customer_k_anonymity", _KANON_SQL)
def customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala
    et al. 2006) over the customer table: with quasi-identifier
    (mktsegment, nationkey) and sensitive attribute acctbal (bucketed
    to $1000), how many re-identification groups fall below each k,
    how many ROWS that exposes, and the worst group's sensitive-value
    diversity. The release-gate report a governance pipeline runs
    before publishing microdata or training extracts — the
    counterpart of the row-level PII redaction in operators/redact.py
    (redaction hides direct identifiers; this audits INDIRECT
    re-identification).

    Scale: one hash agg to the QI-group table (bounded by the QI
    domain, metadata scale), exploded against the four declared k
    thresholds and re-aggregated — the customer table is scanned
    once; no joins, no windows, nothing driver-side."""
    cu = t(spark, sf_dir, "customer")
    sens = F.floor(F.col("c_acctbal") / F.lit(1000.0))
    g = cu.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count("*").alias("n"),
        F.count_distinct(sens).alias("l"),
    )
    ks = F.array([F.lit(k) for k in (2, 5, 10, 25)])
    below = F.col("n") < F.col("k")
    return (
        g.select(F.explode(ks).alias("k"), "n", "l")
        .groupBy("k")
        .agg(
            F.count("*").cast("long").alias("n_groups"),
            F.sum(below.cast("long")).cast("long").alias("groups_below_k"),
            F.sum(F.when(below, F.col("n")).otherwise(F.lit(0)))
            .cast("long")
            .alias("rows_below_k"),
            (
                F.sum(
                    F.when(below, F.col("n")).otherwise(F.lit(0))
                ).cast("double")
                / F.sum("n").cast("double")
            ).alias("pct_rows_below_k"),
            F.min("n").cast("long").alias("min_group_size"),
            F.min("l").cast("long").alias("min_l_diversity"),
        )
        .withColumn("k", F.col("k").cast("long"))
    )


_KREPAIR_K, _KREPAIR_FRAC = 10, 0.005

_KREPAIR_SQL = f"""
    WITH base AS (
      SELECT c.c_mktsegment AS seg, c.c_nationkey AS nk,
             n.n_regionkey AS rk, c.c_acctbal AS bal
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey),
    lv AS (
      SELECT 0 AS lvl, seg AS q0, CAST(nk AS VARCHAR) AS q1,
             CAST(CAST(floor(bal / 1000.0) AS BIGINT) AS VARCHAR) AS q2
      FROM base
      UNION ALL
      SELECT 1, seg, CAST(nk AS VARCHAR),
             CAST(CAST(floor(bal / 2000.0) AS BIGINT) AS VARCHAR) FROM base
      UNION ALL
      SELECT 2, seg, CAST(rk AS VARCHAR),
             CAST(CAST(floor(bal / 2000.0) AS BIGINT) AS VARCHAR) FROM base
      UNION ALL
      SELECT 3, seg, CAST(rk AS VARCHAR),
             CAST(CAST(floor(bal / 5000.0) AS BIGINT) AS VARCHAR) FROM base
      UNION ALL
      SELECT 4, '*', CAST(rk AS VARCHAR),
             CAST(CAST(floor(bal / 10000.0) AS BIGINT) AS VARCHAR) FROM base
      UNION ALL
      SELECT 5, '*', '*', '*' FROM base),
    groups AS (SELECT lvl, q0, q1, q2, count(*) AS n
               FROM lv GROUP BY 1, 2, 3, 4),
    per AS (SELECT lvl, count(*) AS n_groups, min(n) AS min_group_size,
                   sum(CASE WHEN n < {_KREPAIR_K} THEN n ELSE 0 END)
                     AS rows_below_k,
                   sum(n) AS n_rows
            FROM groups GROUP BY 1),
    sel AS (SELECT min(CASE WHEN CAST(rows_below_k AS DOUBLE)
                                 / CAST(n_rows AS DOUBLE)
                                 <= {_KREPAIR_FRAC} THEN lvl END) AS ok_lvl,
                   max(lvl) AS max_lvl
            FROM per)
    SELECT CAST(lvl AS BIGINT) AS level,
           CAST(n_groups AS BIGINT) AS n_groups,
           CAST(min_group_size AS BIGINT) AS min_group_size,
           CAST(rows_below_k AS BIGINT) AS rows_below_k,
           CAST(rows_below_k AS DOUBLE) / CAST(n_rows AS DOUBLE)
             AS pct_rows_below_k,
           CAST(CASE WHEN lvl = coalesce(ok_lvl, max_lvl)
                     THEN 1 ELSE 0 END AS BIGINT) AS chosen
    FROM per CROSS JOIN sel
"""


def _customer_qi_ladder(base):
    """The declared generalization ladder for the customer QI
    (mktsegment, nationkey, acctbal): bucket widening on the balance,
    nationkey→region on the geography, '*' full redaction at the top
    (always k-anonymous for n ≥ k — feasibility by construction)."""
    seg = F.col("c_mktsegment")
    nk = F.col("c_nationkey")
    rk = F.col("n_regionkey")
    star = F.lit("*")

    def bal(width: float):
        return F.floor(F.col("c_acctbal") / F.lit(width))

    return [
        [seg, nk, bal(1000.0)],
        [seg, nk, bal(2000.0)],
        [seg, rk, bal(2000.0)],
        [seg, rk, bal(5000.0)],
        [star, rk, bal(10000.0)],
        [star, star, star],
    ]


@query("customer_k_anonymity_repair", _KREPAIR_SQL)
def customer_k_anonymity_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity REPAIR (Samarati 2001 / Datafly; VERDICT r7 task
    #8): where ``customer_k_anonymity`` names the exposure, this picks
    the minimal fix — walk the declared generalization ladder
    (balance-bucket widening, nationkey→region, '*' redaction;
    ``_customer_qi_ladder``) and choose the LOWEST level whose below-k
    remainder fits the 0.5%-row suppression budget at k=10,
    suppressing that remainder on release. Output: one
    row per ladder level with its group stats and the ``chosen`` flag
    (operators/anonymize.py::generalization_report; the released-table
    operator ``generalize`` is pytest-pinned — all released groups
    ≥ k, suppressed count equals the report).

    Scale: every ladder level is evaluated in ONE scan — rows explode
    into (level, QI) records, one hash agg builds all six group tables
    at once (bounded by the summed QI domains), a second metadata-
    grain agg reduces to the 6-row report, and the level choice is a
    1-row scalar broadcast. No iteration, no data-sized collects; the
    nation dim rides a broadcast join."""
    cu = t(spark, sf_dir, "customer")
    na = t(spark, sf_dir, "nation")
    base = cu.join(
        F.broadcast(na),
        cu["c_nationkey"] == na["n_nationkey"],
    )
    return ops_anonymize.generalization_report(
        base,
        _customer_qi_ladder(base),
        k=_KREPAIR_K,
        max_suppress_frac=_KREPAIR_FRAC,
    )


_LREPAIR_K, _LREPAIR_L, _LREPAIR_FRAC = 10, 3, 0.005

_LREPAIR_SQL = f"""
    WITH base AS (
      SELECT c.c_mktsegment AS seg, c.c_nationkey AS nk,
             n.n_regionkey AS rk,
             CAST(CAST(floor(c.c_acctbal / 1000.0) AS BIGINT) AS VARCHAR)
               AS s
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey),
    lv AS (
      SELECT 0 AS lvl, seg AS q0, CAST(nk AS VARCHAR) AS q1, s FROM base
      UNION ALL SELECT 1, seg, CAST(rk AS VARCHAR), s FROM base
      UNION ALL SELECT 2, seg, '*', s FROM base
      UNION ALL SELECT 3, '*', '*', s FROM base),
    groups AS (SELECT lvl, q0, q1, count(*) AS n,
                      count(DISTINCT s) AS l
               FROM lv GROUP BY 1, 2, 3),
    per AS (SELECT lvl, count(*) AS n_groups, min(n) AS min_group_size,
                   min(l) AS min_l_diversity,
                   sum(CASE WHEN n < {_LREPAIR_K} OR l < {_LREPAIR_L}
                            THEN n ELSE 0 END) AS rows_violating,
                   sum(n) AS n_rows
            FROM groups GROUP BY 1),
    sel AS (SELECT min(CASE WHEN CAST(rows_violating AS DOUBLE)
                                 / CAST(n_rows AS DOUBLE)
                                 <= {_LREPAIR_FRAC} THEN lvl END) AS ok_lvl,
                   max(lvl) AS max_lvl
            FROM per)
    SELECT CAST(lvl AS BIGINT) AS level,
           CAST(n_groups AS BIGINT) AS n_groups,
           CAST(min_group_size AS BIGINT) AS min_group_size,
           CAST(min_l_diversity AS BIGINT) AS min_l_diversity,
           CAST(rows_violating AS BIGINT) AS rows_violating,
           CAST(rows_violating AS DOUBLE) / CAST(n_rows AS DOUBLE)
             AS pct_rows_violating,
           CAST(CASE WHEN lvl = coalesce(ok_lvl, max_lvl)
                     THEN 1 ELSE 0 END AS BIGINT) AS chosen
    FROM per CROSS JOIN sel
"""


@query("customer_l_diversity_repair", _LREPAIR_SQL)
def customer_l_diversity_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity repair (Machanavajjhala et al. 2006 on the Datafly
    ladder): k-anonymity alone leaves a group that shares ONE
    sensitive value fully disclosed, so the release condition here is
    group ≥ k AND ≥ l distinct sensitive values (acctbal $1000
    bucket, the audit's sensitive attribute; QI ladder (segment,
    nationkey) → (segment, region) → (segment, '*') → ('*','*') —
    the sensitive column stays OUT of the QI, unlike the k-repair
    entry, because coarsening the disclosure target would fake
    diversity). Output: one row per ladder level with group stats,
    min l-diversity, rows violating either bound, and the chosen
    release level at the 0.5% suppression budget.

    Same one-scan shape as customer_k_anonymity_repair (explode
    rows×levels → one hash agg carrying an exact distinct count →
    metadata-grain report → 1-row scalar broadcast)."""
    cu = t(spark, sf_dir, "customer")
    na = t(spark, sf_dir, "nation")
    base = cu.join(
        F.broadcast(na),
        cu["c_nationkey"] == na["n_nationkey"],
    )
    seg, star = F.col("c_mktsegment"), F.lit("*")
    ladder = [
        [seg, F.col("c_nationkey")],
        [seg, F.col("n_regionkey")],
        [seg, star],
        [star, star],
    ]
    return ops_anonymize.generalization_report(
        base,
        ladder,
        k=_LREPAIR_K,
        max_suppress_frac=_LREPAIR_FRAC,
        sensitive=F.floor(F.col("c_acctbal") / F.lit(1000.0)),
        l=_LREPAIR_L,
    )


_KRELEASE_SQL = f"""
    WITH base AS (
      SELECT c.c_custkey, c.c_mktsegment AS seg, c.c_nationkey AS nk,
             n.n_regionkey AS rk, c.c_acctbal AS bal
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey),
    lv AS (
      SELECT 0 AS lvl, seg AS q0, CAST(nk AS VARCHAR) AS q1,
             CAST(CAST(floor(bal / 1000.0) AS BIGINT) AS VARCHAR) AS q2
      FROM base
      UNION ALL
      SELECT 1, seg, CAST(nk AS VARCHAR),
             CAST(CAST(floor(bal / 2000.0) AS BIGINT) AS VARCHAR) FROM base
      UNION ALL
      SELECT 2, seg, CAST(rk AS VARCHAR),
             CAST(CAST(floor(bal / 2000.0) AS BIGINT) AS VARCHAR) FROM base
      UNION ALL
      SELECT 3, seg, CAST(rk AS VARCHAR),
             CAST(CAST(floor(bal / 5000.0) AS BIGINT) AS VARCHAR) FROM base
      UNION ALL
      SELECT 4, '*', CAST(rk AS VARCHAR),
             CAST(CAST(floor(bal / 10000.0) AS BIGINT) AS VARCHAR) FROM base
      UNION ALL
      SELECT 5, '*', '*', '*' FROM base),
    groups AS (SELECT lvl, q0, q1, q2, count(*) AS n
               FROM lv GROUP BY 1, 2, 3, 4),
    per AS (SELECT lvl,
                   sum(CASE WHEN n < {_KREPAIR_K} THEN n ELSE 0 END)
                     AS rows_below_k,
                   sum(n) AS n_rows
            FROM groups GROUP BY 1),
    sel AS (SELECT coalesce(
                     min(CASE WHEN CAST(rows_below_k AS DOUBLE)
                                   / CAST(n_rows AS DOUBLE)
                                   <= {_KREPAIR_FRAC} THEN lvl END),
                     max(lvl)) AS chosen
            FROM per),
    gen AS (
      SELECT b.c_custkey,
             CASE WHEN s.chosen <= 3 THEN b.seg ELSE '*' END AS seg_g,
             CASE WHEN s.chosen <= 1 THEN CAST(b.nk AS VARCHAR)
                  WHEN s.chosen <= 4 THEN CAST(b.rk AS VARCHAR)
                  ELSE '*' END AS geo_g,
             CASE s.chosen
               WHEN 0 THEN CAST(CAST(floor(b.bal / 1000.0) AS BIGINT)
                                AS VARCHAR)
               WHEN 1 THEN CAST(CAST(floor(b.bal / 2000.0) AS BIGINT)
                                AS VARCHAR)
               WHEN 2 THEN CAST(CAST(floor(b.bal / 2000.0) AS BIGINT)
                                AS VARCHAR)
               WHEN 3 THEN CAST(CAST(floor(b.bal / 5000.0) AS BIGINT)
                                AS VARCHAR)
               WHEN 4 THEN CAST(CAST(floor(b.bal / 10000.0) AS BIGINT)
                                AS VARCHAR)
               ELSE '*' END AS bal_g
      FROM base b CROSS JOIN sel s),
    ok AS (SELECT seg_g, geo_g, bal_g FROM gen
           GROUP BY 1, 2, 3 HAVING count(*) >= {_KREPAIR_K})
    SELECT g.c_custkey, g.seg_g, g.geo_g, g.bal_g
    FROM gen g JOIN ok USING (seg_g, geo_g, bal_g)
"""


@query("customer_k_anonymity_release", _KRELEASE_SQL)
def customer_k_anonymity_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RELEASED k-anonymized customer table — not just the repair
    report: every surviving row with its generalized QI columns
    (seg_g, geo_g, bal_g) at the ladder level
    ``customer_k_anonymity_repair`` chooses, below-k groups
    suppressed. The oracle verifies the released DATA row-for-row: it
    derives the same chosen level in SQL and switches the
    generalization expressions with a CASE on it — so level choice,
    coarsening, and suppression are all value-checked, closing the
    loop the report entry opens.

    Scale: the report machinery (one explode-scan + bounded aggs)
    picks the level; the release is one more scan + a co-partitioned
    semi-join against the ≥k groups (operators/anonymize.py::
    generalize — the .first() on the 6-row report is the bounded
    collect documented there)."""
    cu = t(spark, sf_dir, "customer")
    na = t(spark, sf_dir, "nation")
    base = cu.join(
        F.broadcast(na),
        cu["c_nationkey"] == na["n_nationkey"],
    )
    released = ops_anonymize.generalize(
        base,
        _customer_qi_ladder(base),
        k=_KREPAIR_K,
        max_suppress_frac=_KREPAIR_FRAC,
        qi_names=["seg_g", "geo_g", "bal_g"],
        drop_cols=[c for c in base.columns if c != "c_custkey"],
    )
    return released.select("c_custkey", "seg_g", "geo_g", "bal_g")
