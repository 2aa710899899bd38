"""SQL-surface catalog queries exercising Spark 4 SQL features the
DataFrame entries don't: RECURSIVE CTEs and correlated LATERAL
subqueries — run verbatim through ``spark.sql`` over the registered
views (sql.py), with the same text shapes as their DuckDB oracles.

Portability notes: integer parent derivation uses ``floor(x/10)``
explicitly — Spark's CAST(double AS BIGINT) truncates while DuckDB's
rounds, so the raw-cast form would silently diverge; ``floor`` is
unambiguous in both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sql import register_views
from .queries import query

# synthetic decimal-trie hierarchy: parent(k) = floor(k/10), root 0 —
# every customer key chains to the root in ≤ |digits| steps, so the
# recursion is finite by construction
_HIERARCHY_SQL = """
    WITH RECURSIVE anc AS (
      SELECT c_custkey AS start_key, c_custkey AS node, 0 AS depth
      FROM customer
      UNION ALL
      SELECT start_key, CAST(floor(node / 10) AS BIGINT) AS node,
             depth + 1
      FROM anc WHERE node > 0
    )
    SELECT CAST(depth AS BIGINT) AS depth,
           CAST(count(*) AS BIGINT) AS n_chain_nodes,
           CAST(count(DISTINCT node) AS BIGINT) AS distinct_ancestors
    FROM anc GROUP BY depth
"""

_LATERAL_SQL = """
    SELECT CAST(c.c_custkey AS BIGINT) AS c_custkey,
           t.o_orderkey,
           ROUND(t.o_totalprice, 4) AS o_totalprice,
           CAST(t.rk AS BIGINT) AS rk
    FROM customer c,
    LATERAL (
      SELECT o_orderkey, o_totalprice,
             row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 2
    ) t
"""


@query("customer_ancestor_chains", _HIERARCHY_SQL)
def customer_ancestor_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE hierarchy walk (Spark 4's WITH RECURSIVE): every
    customer's ancestor chain in the decimal-trie hierarchy
    parent(k)=floor(k/10), rolled up per depth — the org-chart /
    bill-of-materials query class the engine previously answered only
    through the iterative DataFrame loop (dedup's components).

    Scale: each recursion step is one equi-join of the frontier
    against a derived column; the frontier SHRINKS as chains hit the
    root, and depth is bounded by key digits (~7 at any SF). Finite
    by construction — no cycle risk, which is the discipline WITH
    RECURSIVE needs (UNION ALL recursion + a cyclic graph would never
    terminate)."""
    register_views(spark, sf_dir, ("customer",))
    return spark.sql(_HIERARCHY_SQL)


@query("customer_top_orders_lateral", _LATERAL_SQL)
def customer_top_orders_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: each customer's top-2 orders by
    price (deterministic orderkey tiebreak), expressed as the SQL
    lateral form instead of the window+filter rewrite — the per-row
    dependent-subquery surface (S16 family) users port from
    Postgres/DuckDB verbatim.

    Scale: Catalyst decorrelates the lateral into the same
    aggregate/window join shape as the explicit rewrite — asserted by
    the oracle match; no per-row re-execution survives planning."""
    register_views(spark, sf_dir, ("customer", "orders"))
    return spark.sql(_LATERAL_SQL)
