"""Graph catalog query: PageRank over the customer→supplier purchase
graph, oracle-checked by unrolling the same power iteration as
chained DuckDB CTEs.

The graph: a directed edge c→s whenever customer c has an order with
a line item supplied by s (orders ⋈ lineitem, distinct pairs).
Suppliers are pure sinks (dangling nodes), so the entry also
exercises the dangling-mass redistribution path.

Oracle portability: a FIXED iteration count makes power iteration a
deterministic composition of joins/aggs both engines express exactly;
per-iteration float divergence is summation-order ulp (~1e-16
relative), far under the final r4 rounding. No top-k cut — selection
by a float rank could flip membership across engines at ulp scale, so
the entry returns every node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import r4
from ..operators import dedup as D
from ..operators.graph import bfs_level_hops, hits, pagerank, triangle_counts
from .queries import query, t

_ITERATIONS = 6
_DAMPING = 0.85


def _pagerank_sql(iterations: int = _ITERATIONS, d: float = _DAMPING) -> str:
    # AS MATERIALIZED throughout is load-bearing: every r{i} references
    # r{i-1} twice (dangling agg + contribution join) and edges/deg/nn
    # repeat per iteration — DuckDB inlines un-materialized CTEs, which
    # is 2^iterations expansion (at sf0.1 the inlined plan spilled the
    # temp directory to disk-full before producing a row).
    ctes = [
        """edges AS MATERIALIZED (
          SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                          's' || CAST(l_suppkey AS VARCHAR) AS dst
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey)""",
        "nodes AS MATERIALIZED (SELECT src AS node FROM edges"
        " UNION SELECT dst FROM edges)",
        "nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes)",
        """deg AS MATERIALIZED (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg
                   FROM edges GROUP BY 1)""",
        "r0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS r"
        " FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        p = i - 1
        ctes.append(
            f"""dang{i} AS MATERIALIZED (
              SELECT COALESCE(sum(r), 0) AS dm
              FROM r{p} LEFT JOIN deg ON deg.src = r{p}.node
              WHERE deg.src IS NULL)"""
        )
        ctes.append(
            f"""r{i} AS MATERIALIZED (
              SELECT nodes.node,
                     (1 - {d}) / (SELECT n FROM nn)
                     + {d} * (COALESCE(inc.s, 0)
                              + (SELECT dm FROM dang{i}) / (SELECT n FROM nn))
                       AS r
              FROM nodes LEFT JOIN (
                SELECT e.dst AS node, sum(p.r / deg.outdeg) AS s
                FROM edges e
                JOIN r{p} p ON p.node = e.src
                JOIN deg ON deg.src = e.src
                GROUP BY 1) inc ON inc.node = nodes.node)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, ROUND(r, 4) AS rank FROM r{iterations}"
    )


@query("purchase_graph_pagerank", _pagerank_sql())
def purchase_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (6 fixed iterations, d=0.85) on the customer→supplier
    purchase graph — ranks suppliers by how much customer "attention
    mass" flows into them, the centrality companion to
    ``dedup_components``' connectivity.

    Scale: see ``operators/graph.py::pagerank`` — one node-key
    shuffle per iteration over a persisted edge⋈degree relation, a
    1-row broadcast for dangling mass, zero driver-side graph state.
    The edge list itself is |distinct (cust,supp)| ≤ lineitem and
    shrinks through the DISTINCT's partial agg."""
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    lineitem = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # node ids stay LONG through the iterations (customer k → 2k,
    # supplier k → 2k+1 — bijective) and decode to the display labels
    # only at the end: every per-round exchange/sort moves 8-byte
    # fixed-width longs instead of variable-length strings (neutral at
    # sf0.1 where scheduling dominates the rounds; the win is shuffle
    # payload and comparator cost at cluster scale). Safe for the
    # oracle: ranks are rounded to 4 places, which already absorbs
    # add-order ulp differences between any two executions.
    edges = (
        orders.join(
            lineitem, orders["o_orderkey"] == lineitem["l_orderkey"]
        )
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
    )
    ranks = pagerank(edges, iterations=_ITERATIONS, damping=_DAMPING)
    label = F.when(
        F.col("node") % 2 == 0,
        F.concat(F.lit("c"), (F.col("node") / 2).cast("long").cast("string")),
    ).otherwise(
        F.concat(
            F.lit("s"), ((F.col("node") - 1) / 2).cast("long").cast("string")
        )
    )
    return ranks.select(label.alias("node"), r4(F.col("rank")).alias("rank"))


def _triangle_sql(min_jaccard: float = 0.1) -> str:
    # Edge list = the ngram_jaccard_near_pairs spec via the SHARED
    # fragment (queries_text._SQL_NGRAM_PAIR_CTES /
    # ngram_pair_edges_sql — one definition, cannot drift), stored
    # once with a < b; triangles are then enumerated id-increasing
    # (e1=(a,b), e2=(b,c) forces a<b<c, e3 closes (a,c)) — each
    # triangle exactly once. The Spark operator orients by
    # (degree, id) instead; the triangle SET is orientation-invariant,
    # so counts match exactly.
    from .queries_text import _SQL_NGRAM_PAIR_CTES, ngram_pair_edges_sql

    return f"""
    WITH {_SQL_NGRAM_PAIR_CTES},
    e AS MATERIALIZED (
      SELECT id_a AS a, id_b AS b FROM (
        {ngram_pair_edges_sql(min_jaccard)})),
    deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree
            FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
            GROUP BY 1),
    tris AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
             FROM e e1 JOIN e e2 ON e2.a = e1.b
             JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
    pn AS (SELECT node, CAST(count(*) AS BIGINT) AS triangles
           FROM (SELECT x AS node FROM tris UNION ALL SELECT y FROM tris
                 UNION ALL SELECT z FROM tris) GROUP BY 1)
    SELECT d.node AS doc_id, d.degree,
           CAST(coalesce(pn.triangles, 0) AS BIGINT) AS triangles,
           coalesce(pn.triangles, 0) * 2.0 / (d.degree * (d.degree - 1))
             AS local_clustering
    FROM deg d LEFT JOIN pn ON pn.node = d.node
    WHERE d.degree >= 2
    """


@query("near_dup_triangles", _triangle_sql())
def near_dup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle participation + local clustering coefficient for every
    document with ≥ 2 near-dup edges (word-3-gram Jaccard ≥ 0.1, the
    ngram_jaccard_near_pairs edge set).

    The dedup-cluster tightness audit: connected components merge
    transitively, so a chain of borderline pairs and a clique of true
    duplicates look identical to ``dedup_components`` — but the chain
    has clustering 0 and the clique 1. Gating keeper election on
    local clustering is how a curation pipeline avoids collapsing
    distinct documents that merely share boilerplate bridges.

    Scale: ``operators/graph.py::triangle_counts`` — degree-oriented
    wedge closure (out-adjacency O(√m) for every node regardless of
    skew), three equi-joins, exact integer counts. local_clustering
    = 2·T/(d·(d−1)) is a pure division of exact ints — bit-identical
    cross-engine, hashed unrounded.

    Measured (sf1 rehearsal): the EDGE stage, not the triangle stage,
    is the scale limit. Exact 0.1-Jaccard over the synthetic corpus is
    near-quadratic because the shingle vocabulary SATURATES (~30k
    distinct trigrams at both 5k and 50k docs), so posting lists grow
    linearly with corpus and the inverted-index pair expansion grows
    ~n²: 2.8M pair rows at sf0.1 → 228M at sf1 (82× for 10× docs).
    That is a property of the corpus+threshold, not the plan — when
    the true qualifying-pair set is quadratic, any engine enumerating
    it is quadratic. The 100 TB posture for clustering audits is the
    LSH-gated candidate path (``ngram_jaccard_pairs(candidates=...)``)
    at a threshold the LSH S-curve can gate, plus executor memory
    sized for the pair grain (local[32]'s default 8g heap / 32 threads
    OOMed the pair hash-agg at sf1; a cluster-realistic 1.5 GB/task
    completes it — see tools/run_scaling.py --driver-mem)."""
    docs = t(spark, sf_dir, "documents")
    edges = D.ngram_jaccard_pairs(docs, k=3, min_jaccard=0.1).select(
        "id_a", "id_b"
    )
    tc = triangle_counts(edges)
    return tc.filter(F.col("degree") >= 2).select(
        F.col("node").alias("doc_id"),
        "degree",
        "triangles",
        (
            F.col("triangles") * 2.0
            / (F.col("degree") * (F.col("degree") - F.lit(1)))
        ).alias("local_clustering"),
    )


_HITS_ITER = 4


def _hits_sql(iterations: int = _HITS_ITER) -> str:
    # Same unrolled-power-iteration posture as the PageRank oracle
    # (AS MATERIALIZED is load-bearing — see _pagerank_sql); each
    # half-step is one join+agg CTE plus an L2-normalization CTE.
    ctes = [
        """edges AS MATERIALIZED (
          SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey)""",
        "h0 AS MATERIALIZED (SELECT DISTINCT src AS node, 1.0 AS s"
        " FROM edges)",
    ]
    for i in range(1, iterations + 1):
        p = i - 1
        ctes.append(
            f"""a{i}r AS MATERIALIZED (
              SELECT dst AS node, sum(h.s) AS s
              FROM edges e JOIN h{p} h ON h.node = e.src GROUP BY 1)"""
        )
        ctes.append(
            f"a{i} AS MATERIALIZED (SELECT node, s / "
            f"sqrt((SELECT sum(s*s) FROM a{i}r)) AS s FROM a{i}r)"
        )
        ctes.append(
            f"""h{i}r AS MATERIALIZED (
              SELECT src AS node, sum(a.s) AS s
              FROM edges e JOIN a{i} a ON a.node = e.dst GROUP BY 1)"""
        )
        ctes.append(
            f"h{i} AS MATERIALIZED (SELECT node, s / "
            f"sqrt((SELECT sum(s*s) FROM h{i}r)) AS s FROM h{i}r)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT 'c' || CAST(node AS VARCHAR) AS node, 'hub' AS role,
           ROUND(s, 4) AS score FROM h{iterations}
    UNION ALL
    SELECT 's' || CAST(node AS VARCHAR), 'authority', ROUND(s, 4)
    FROM a{iterations}"""
    )


@query("purchase_graph_hits", _hits_sql())
def purchase_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (4 fixed L2-normalized iterations) on
    the customer→supplier purchase graph: authoritative suppliers are
    bought from by broad customers; hub customers buy from
    authoritative suppliers — the mutually-recursive ranking PageRank
    can't express on a bipartite graph (where all suppliers are sinks
    and PageRank mostly reflects in-degree).

    Scale: ``operators/graph.py::hits`` — one exchange per half-step
    over edge relations persisted pre-partitioned on EACH join key;
    L2 norms ride the checkpoint jobs as observed metrics. The oracle
    unrolls the same power iteration as materialized DuckDB CTEs
    (the purchase_graph_pagerank pattern)."""
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    lineitem = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = orders.join(
        lineitem, orders["o_orderkey"] == lineitem["l_orderkey"]
    ).select(
        F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst")
    )
    hubs, auth = hits(edges, iterations=_HITS_ITER)
    return (
        hubs.select(
            F.concat(F.lit("c"), F.col("node").cast("string")).alias("node"),
            F.lit("hub").alias("role"),
            r4(F.col("hub")).alias("score"),
        )
    ).unionAll(
        auth.select(
            F.concat(F.lit("s"), F.col("node").cast("string")).alias("node"),
            F.lit("authority").alias("role"),
            r4(F.col("authority")).alias("score"),
        )
    )


_BFS_HOPS = 4


def _reach_sql(max_hops: int = _BFS_HOPS) -> str:
    # unrolled level sets with per-level DISTINCT — the recursive
    # UNION ALL form enumerates PATHS (deg^h on this dense bipartite
    # graph) and detonates by hop 4; levels stay bounded by |V|
    ctes = [
        """edges AS MATERIALIZED (
          SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                          's' || CAST(l_suppkey AS VARCHAR) AS dst
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey)""",
        """und AS MATERIALIZED (
          SELECT src, dst FROM edges UNION SELECT dst, src FROM edges)""",
        """l0 AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS node
          FROM orders WHERE o_custkey < 3)""",
    ]
    for h in range(1, max_hops + 1):
        ctes.append(
            f"""l{h} AS MATERIALIZED (
              SELECT DISTINCT u.dst AS node
              FROM l{h - 1} w JOIN und u ON u.src = w.node)"""
        )
    levels = "\n      UNION ALL\n      ".join(
        f"SELECT node, {h} AS hops FROM l{h}" for h in range(max_hops + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT node, CAST(min(hops) AS BIGINT) AS hops
    FROM ({levels})
    GROUP BY 1
    """
    )


@query("purchase_reach_hops", _reach_sql())
def purchase_reach_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-BFS reachability over the (symmetrized) customer–
    supplier purchase graph: minimum hop distance from the seed
    customers (custkey < 3) up to 4 hops — the blast-radius /
    contamination-spread primitive (hop 1 = the seeds' suppliers,
    hop 2 = co-buying customers, …).

    Level-set BFS (``operators/graph.py::bfs_level_hops``): per-level
    DISTINCT caps every frontier at |V|, so the walk is a static
    4-join plan — the recursive-CTE path enumeration would grow as
    deg^h on this dense bipartite graph. The oracle unrolls the SAME
    level sets (the engine's recursive-CTE entry is
    customer_ancestor_chains, where paths are genuinely acyclic)."""
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    # BFS runs on LONG-encoded node ids (customer c ↦ 2c, supplier
    # s ↦ 2s+1 — bijective, so hop distances are identical) and maps
    # back to the 'c…'/'s…' strings only on the bounded result: the
    # dedup exchange and every frontier join then hash/compare 8-byte
    # longs instead of strings, and the per-row concat runs |V| times
    # instead of |edges| (r10; integer min-hop output is representation
    # -independent, oracle unchanged).
    edges = (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    # no distinct on the symmetrized union: the original set (c→s) and
    # the swapped set (s→c) are disjoint by node-id parity and each is
    # internally distinct already — one full dedup exchange saved
    und = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    seeds = (
        orders.filter(F.col("o_custkey") < 3)
        .select((F.col("o_custkey") * 2).alias("node"))
        .distinct()
    )
    reached = bfs_level_hops(und, seeds, max_hops=_BFS_HOPS)
    return reached.select(
        F.concat(
            F.when(F.col("node") % 2 == 0, F.lit("c")).otherwise(F.lit("s")),
            F.shiftright(F.col("node"), 1).cast("string"),
        ).alias("node"),
        "hops",
    )
