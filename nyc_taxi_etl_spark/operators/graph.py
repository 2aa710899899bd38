"""Distributed graph analytics on DataFrames: PageRank.

North-star extension beside ``dedup.connected_components`` — the
other staple graph primitive a corpus/entity pipeline needs (rank
hosts by link mass, weight documents by citation, order dedup-cluster
keepers by centrality). The reference has no graph surface at all.

Same design posture as connected components: edges and ranks stay
DataFrames end-to-end (no driver-side adjacency), every round is an
equi-join + hash-agg on the node key, and the fixed iteration count
makes the result DETERMINISTIC — which is what lets the catalog
entry carry a full DuckDB oracle (the same power iteration unrolled
as chained CTEs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import width
from ..pins import pin

__all__ = ["hits", "pagerank", "triangle_counts", "bfs_level_hops"]

#: Score-frame broadcast cap for the iterative rank loops (pagerank /
#: hits): when the per-round rank/score relation is bounded by this
#: many rows, each round joins the (large, stationary) edge relation
#: against an explicit BROADCAST of the scores instead of a
#: sort-merge/shuffled-hash join — zero join exchange, zero sort, and
#: the pre-partitioned+sorted edge layouts become unnecessary
#: (bfs_level_hops posture: measure, then choose the join strategy; a
#: checkpointed score frame carries no stats, so the planner cannot
#: make this call itself). 2M (key, double) rows ≈ 32 MB framed —
#: the same "small enough to ship everywhere" judgment as the BFS
#: frontier cap, halved for the wider rows. Above the cap the
#: co-partitioned layouts run exactly as before.
SCORE_BROADCAST_MAX = 2_000_000


def hits(
    edges: DataFrame,
    iterations: int = 4,
    src: str = "src",
    dst: str = "dst",
    score_broadcast_max: int = SCORE_BROADCAST_MAX,
) -> tuple[DataFrame, DataFrame]:
    """HITS (Kleinberg): hub scores for source nodes, authority scores
    for target nodes, over a directed edge list. Returns
    ``(hubs(node, hub), authorities(node, authority))``.

    The bipartite companion to ``pagerank``: on a customer→supplier
    purchase graph, authority ranks suppliers by how much weight
    flows from broad customers, hubs rank customers by how much they
    buy from authoritative suppliers — mutually recursive, which a
    one-shot degree count can't express.

    Update (classic, L2-normalized each half-step, fixed iterations
    for determinism): a ← Aᵀh / ‖Aᵀh‖₂ ; h ← Aa / ‖Aa‖₂.

    Scale: per half-step ONE exchange (the hash agg on the receiving
    key). How the score frame reaches the edge relation is a MEASURED
    choice (r10): at or under ``score_broadcast_max`` rows the scores
    are explicitly broadcast into each join — the edge relation is
    never moved or sorted and needs no per-key layouts at all; above
    the cap the edge relation is pinned twice, pre-partitioned and
    sorted on EACH join key (src for the a-step, dst for the h-step),
    so the per-round joins reuse layout instead of moving edges, and
    the aggregated score frame comes out of its shuffle already
    partitioned on the key the NEXT join needs. ‖·‖₂ rides the
    checkpoint job as an observed metric (the pagerank posture —
    zero extra jobs, one scalar per half-step to the driver)."""
    if iterations < 1:
        raise ValueError("hits() needs iterations >= 1")
    spark = edges.sparkSession
    # pin the distinct edge list ONCE before forking into the two
    # per-key layouts — without this, e_by_src and e_by_dst are
    # independent lineages that would each re-execute the caller's
    # edge subplan (for the purchase graph: the orders⋈lineitem join
    # + distinct, the most expensive stage, twice). The edge count for
    # the size-adaptive iteration width rides the checkpoint job as an
    # observed metric — zero extra jobs, and it replaces the separate
    # isEmpty() probe.
    e, m = pin(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct(),
        n=F.count(F.lit(1)),
    )
    n_edges = int(m["n"])
    if n_edges == 0:
        empty_h = e.select(
            F.col("src").alias("node"), F.lit(1.0).alias("hub")
        ).limit(0)
        empty_a = e.select(
            F.col("dst").alias("node"), F.lit(1.0).alias("authority")
        ).limit(0)
        return empty_h, empty_a
    # Score frames are bounded by the node count, itself bounded by
    # n_edges+1 per side of the bipartite update: at or under the
    # broadcast cap every per-round join ships the SCORES to the
    # stationary edge relation (map-side hash join — no exchange, no
    # sort, no pre-partitioned edge layouts needed); above it, the
    # co-partitioned sorted layouts pay off exactly as before.
    small = n_edges <= score_broadcast_max
    n_iter = width.iter_partitions(spark, n_edges)
    with width.shuffle_scope(spark, n_iter) as n_part:
        if small:
            e_by_src = e_by_dst = e
        else:
            e_by_src = pin(
                e.repartition(n_part, "src").sortWithinPartitions("src")
            )
            e_by_dst = pin(
                e.repartition(n_part, "dst").sortWithinPartitions("dst")
            )
        hubs = (
            e_by_src.select("src").distinct().select(
                F.col("src").alias("node"), F.lit(1.0).alias("hub")
            )
        )

        def _score(s: DataFrame) -> DataFrame:
            return F.broadcast(s) if small else s

        def _a_raw(h: DataFrame) -> DataFrame:
            # Aᵀh — on the large path it comes out of its agg
            # hash-partitioned on dst, exactly the layout the
            # following e_by_dst join wants; on the small path h is
            # broadcast so the join moves nothing at all
            h = _score(h)
            return (
                e_by_src.join(h, e_by_src["src"] == h["node"])
                .groupBy("dst")
                .agg(F.sum("hub").alias("a"))
            )

        # One materialization per ROUND, not per half-step: h's L2
        # normalization makes the a-scale cancel —
        # normalize(A·a_raw/‖a‖) = normalize(A·a_raw) — so a_raw stays
        # a lazy subplan inside the round and only h_raw is
        # checkpointed (its ‖·‖₂ observed on that same job). The
        # authority frame the caller sees is computed ONCE at the end
        # from the second-to-last h, exactly the classic half-step
        # pairing (a_k = normalize(Aᵀh_{k-1}), h_k = normalize(A·a_k));
        # float drift vs per-half-step normalization is ulp-scale, far
        # under the catalog's r4 rounding.
        prev = hubs
        for _ in range(iterations):
            prev = hubs
            h_raw = (
                e_by_dst.join(_score(_a_raw(hubs)), "dst")
                .groupBy("src")
                .agg(F.sum("a").alias("hub"))
            )
            h_raw, m = pin(h_raw, ss=F.sum(F.col("hub") * F.col("hub")))
            h_norm = float(m["ss"]) ** 0.5 or 1.0
            hubs = h_raw.select(
                F.col("src").alias("node"),
                (F.col("hub") / F.lit(h_norm)).alias("hub"),
            )
        a_final, m = pin(_a_raw(prev), ss=F.sum(F.col("a") * F.col("a")))
        a_norm = float(m["ss"]) ** 0.5 or 1.0
        auth = a_final.select(
            F.col("dst").alias("node"),
            (F.col("a") / F.lit(a_norm)).alias("authority"),
        )
    return hubs, auth


def triangle_counts(
    edges: DataFrame,
    node_a: str = "id_a",
    node_b: str = "id_b",
    score_broadcast_max: int = SCORE_BROADCAST_MAX,
) -> DataFrame:
    """Per-node triangle participation over an undirected edge list;
    returns ``(node, degree, triangles)`` for every node with an edge.

    The cluster-tightness primitive for near-dup graphs: a dedup
    component that is a chain of borderline pairs has zero triangles,
    while a true duplicate cluster is triangle-dense — so triangle
    counts (and the local clustering coefficient derived from them)
    separate "transitively merged by accident" from "actually all the
    same document" before a keeper is chosen.

    Scale — degree orientation, the standard distributed formulation
    (node-iterator++): each undirected edge is directed from its
    lower-(degree, id) endpoint to the higher one, which makes the
    out-adjacency of EVERY node O(√m) regardless of skew. Triangles
    are then wedges u→v, u→w (rank v < rank w) closed by the oriented
    edge v→w: three equi-joins/hash-aggs, each triangle enumerated
    exactly once, no node's candidate set quadratic in its raw degree.
    A celebrity node with 10⁶ neighbors contributes wedges only
    through its (bounded) out-edges, not its in-edges.

    Determinism: exact integer counts — the triangle set of a graph
    does not depend on the orientation used to enumerate it, so a
    plain id-ordered oracle reproduces the counts bit-for-bit.
    """
    e = edges.select(
        F.col(node_a).alias("a"), F.col(node_b).alias("b")
    ).filter(F.col(node_a) != F.col(node_b))
    # Pin the canonical edge list: the plan below references it from
    # SEVEN operators (degree agg, two orientation joins, both wedge
    # sides, the closing join, the final left join). Without a
    # checkpoint each reference re-executes the caller's edge
    # SUBPLAN — for a near-dup graph that subplan is the shingle
    # inverted-index self-join, i.e. the most expensive stage of the
    # whole query, recomputed up to 7×. One materialization job,
    # lineage truncated (dedup-components posture). The edge count
    # rides the checkpoint job as an observed metric — it gates the
    # degree-frame broadcast below, zero extra jobs.
    und, m = pin(
        e.select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        ).distinct(),
        n=F.count(F.lit(1)),
    )
    n_und = int(m["n"])
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    # The degree frame has |V| ≤ 2·|E| rows; at or under the broadcast
    # cap both orientation joins ship the DEGREES to the stationary
    # edge checkpoint (map-side hash join — the edge set is never
    # exchanged or sorted for orientation), the bfs/pagerank measured-
    # broadcast posture. Above the cap the equi-joins shuffle as
    # before — a checkpointed edge list carries no stats, so the
    # planner cannot make this call itself. Cap sizing (r10 ADVICE):
    # each broadcast row is (node, struct(degree, node)) — roughly
    # DOUBLE a (key, double) rank row, and possibly string-keyed — and
    # TWO broadcasts are built (da, db), so the |V|-bound is charged 4×
    # against the cap instead of pagerank/hits' 1×: at the 2M default
    # that keeps the pair of built relations within the same ~32 MB
    # judgment the constant documents.
    small = 4 * n_und <= score_broadcast_max

    def _dim(d: DataFrame) -> DataFrame:
        return F.broadcast(d) if small else d

    # rank = (degree, node): a total order, so orientation is acyclic
    da = _dim(deg.select(
        F.col("node").alias("a"), F.struct("degree", "node").alias("ra")
    ))
    db = _dim(deg.select(
        F.col("node").alias("b"), F.struct("degree", "node").alias("rb")
    ))
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(F.col("ra") < F.col("rb"), F.col("a"))
            .otherwise(F.col("b"))
            .alias("u"),
            F.when(F.col("ra") < F.col("rb"), F.col("b"))
            .otherwise(F.col("a"))
            .alias("v"),
            F.when(F.col("ra") < F.col("rb"), F.col("rb"))
            .otherwise(F.col("ra"))
            .alias("rv"),
        )
    )
    o1 = oriented.select("u", F.col("v").alias("w1"), F.col("rv").alias("r1"))
    o2 = oriented.select("u", F.col("v").alias("w2"), F.col("rv").alias("r2"))
    wedges = o1.join(o2, "u").filter(F.col("r1") < F.col("r2"))
    closing = oriented.select(
        F.col("u").alias("w1"), F.col("v").alias("w2")
    )
    tris = wedges.join(closing, ["w1", "w2"]).select("u", "w1", "w2")
    per_node = (
        tris.select(F.explode(F.array("u", "w1", "w2")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )
    return deg.join(per_node, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 6,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    score_broadcast_max: int = SCORE_BROADCAST_MAX,
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list; returns
    ``(node, rank)`` for every node appearing as source or target.

    Semantics (the classic formulation): uniform init 1/N; each round
    every node keeps ``(1-d)/N`` plus ``d ×`` (rank mass arriving on
    in-edges, where a node with out-degree g ships rank/g along each
    out-edge, plus the dangling-node mass redistributed uniformly).
    Ranks sum to 1 every round — dangling redistribution is what
    preserves that invariant.

    Scale: per round, ONE exchange — the contribution hash-agg on the
    destination key — and the round state is the CONTRIBUTION table
    (one row per node with in-edges), never the full per-node rank
    relation: a node absent from the contributions has the per-round
    CONSTANT rank ``base + deficit/N``, so the previous round's rank
    is reconstructed inside the round's join expression and the
    per-node materialization collapses into one final join against
    the node list. How the previous contributions reach the edge
    relation is a MEASURED choice (r10): at or under
    ``score_broadcast_max`` rows they are explicitly broadcast (the
    edge relation is never moved or sorted at all); above it, the
    edge⋈degree relation is hash-repartitioned ONCE on src, sorted,
    and pinned, so each round's sort-merge join reuses that layout
    and only the (post-agg, much smaller) contribution frame moves.
    The dangling-node term needs no anti-join: ranks sum to 1 every
    round, so the undistributed mass is ``1 − (N·base + d·Σ inc)``
    with ``Σ inc`` recovered as an OBSERVED metric on the round's
    checkpoint job (``df.observe`` / CollectMetrics — zero extra
    jobs, one scalar per round to the driver, never node state). A
    fixed iteration count (‖Δ‖ ≈ d^k) replaces convergence polling so
    the driver loop does no data reads. Skewed in-degree (celebrity
    nodes) degrades only the final agg — salting composes if needed
    (functions/skew.py)."""
    spark = edges.sparkSession
    # pin the distinct edge list ONCE before forking into the three
    # consumers (degree agg, edge⋈degree layout, node-list union) —
    # without this each is an independent lineage re-executing the
    # caller's edge subplan (for the purchase graph: the
    # orders⋈lineitem join + distinct, the most expensive stage, 3×).
    # The edge count for the size-adaptive iteration width rides the
    # checkpoint job as an observed metric — zero extra jobs.
    e, m = pin(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct(),
        n=F.count(F.lit(1)),
    )
    n_edges = int(m["n"])
    if n_edges == 0:
        # empty graph: typed empty result (SURVEY §7.3 posture), and
        # guards the 1/N terms below
        return e.select(
            F.col("src").alias("node"), F.lit(0.0).alias("rank")
        ).limit(0)
    # Rank frames are bounded by the node count: at or under the
    # broadcast cap every round joins the stationary edge relation
    # against a BROADCAST of the ranks (and the node list against a
    # broadcast of the round's contributions) — zero join exchange,
    # zero sort, no pre-partitioned edge layout; above it, the
    # co-partitioned sorted layouts pay off exactly as before.
    small = n_edges <= score_broadcast_max
    n_iter = width.iter_partitions(spark, n_edges)
    with width.shuffle_scope(spark, n_iter) as n_part:
        deg = e.groupBy("src").agg(
            F.count("*").cast("double").alias("outdeg")
        )
        ed = e.join(deg, "src")
        nodes = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
        )
        if not small:
            # laid out on the per-round join key AND sorted within
            # partitions on it: every round's sort-merge join reuses
            # both from the pin — no exchange and no re-sort of the
            # (large) edge side per round. Partitioning is irrelevant
            # to the small path's broadcast-probe rounds.
            ed = ed.repartition(n_part, "src").sortWithinPartitions("src")
            nodes = nodes.repartition(n_part, "node").sortWithinPartitions(
                "node"
            )
        ed = pin(ed)
        nodes, m = pin(nodes, n=F.count(F.lit(1)))
        n_nodes = int(m["n"])
        base = (1.0 - damping) / n_nodes
        # Rounds carry only the CONTRIBUTION table (one row per node
        # with in-edges), never the full per-node rank relation: a
        # node absent from the contribution table has the same rank as
        # every other such node — base + deficit/N, a per-round
        # CONSTANT — so rank_{r-1}(src) is reconstructible inside the
        # round-r join expression (left join on the previous
        # contributions + coalesce). The per-round node-table left
        # join the previous formulation materialized (|V| rows,
        # checkpointed every round) collapses into ONE final join; each
        # round is now a single edge⋈contrib join plus the
        # contribution hash-agg, and the per-round checkpoint shrinks
        # to the in-degree>0 node set. Σ raw over ALL nodes — the
        # dangling-deficit input — is recovered algebraically:
        # Σ_v (base + d·inc(v)) = N·base + d·Σ inc, with Σ inc
        # observed on the contribution checkpoint job (zero extra
        # jobs, one scalar per round, the same invariant as before at
        # float-ulp difference — absorbed by the entry's r4 rounding).
        contrib: DataFrame | None = None
        deficit = 0.0

        def _attach_prev():
            """(joined frame, rank_{r-1}(src) expression) for a round."""
            if contrib is None:
                # round 1: every node's rank is exactly 1/N
                return ed, F.lit(1.0 / n_nodes)
            c = (F.broadcast(contrib) if small else contrib).select(
                F.col("dst").alias("_cdst"), F.col("inc").alias("_cinc")
            )
            joined = ed.join(c, ed["src"] == c["_cdst"], "left")
            expr = (
                F.lit(base)
                + F.lit(damping) * F.coalesce(F.col("_cinc"), F.lit(0.0))
                + F.lit(deficit / float(n_nodes))
            )
            return joined, expr

        for _ in range(iterations):
            joined, prev_rank = _attach_prev()
            stepped = (
                joined.select(
                    ed["dst"].alias("dst"),
                    (prev_rank / F.col("outdeg")).alias("c"),
                )
                .groupBy("dst")
                .agg(F.sum("c").alias("inc"))
            )
            contrib, m = pin(stepped, s=F.coalesce(F.sum("inc"), F.lit(0.0)))
            deficit = 1.0 - (n_nodes * base + damping * float(m["s"]))
        if contrib is None:  # iterations == 0: the uniform init
            ranks = nodes.select(
                "node", F.lit(1.0 / n_nodes).alias("rank")
            )
        else:
            c = (F.broadcast(contrib) if small else contrib).select(
                F.col("dst").alias("_cdst"), F.col("inc").alias("_cinc")
            )
            ranks = nodes.join(
                c, nodes["node"] == c["_cdst"], "left"
            ).select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * F.coalesce(F.col("_cinc"), F.lit(0.0))
                    + F.lit(deficit / float(n_nodes))
                ).alias("rank"),
            )
    return ranks


#: Frontier-broadcast cap for ``bfs_level_hops``: a frontier at or
#: under this many node ids joins the edge relation as an explicit
#: broadcast (ids are scalar keys — 4M longs ≈ 32 MB framed, the same
#: "small enough to ship everywhere" judgment as Spark's broadcast
#: threshold); larger frontiers fall back to the shuffle join. The
#: count is MEASURED (observe riding the level checkpoint — zero extra
#: jobs), never guessed: a localCheckpoint's LogicalRDD carries no
#: size statistics, so without this the planner sort-merge-joins even
#: a 3-row seed frontier against the full edge relation (measured ~2×
#: the whole entry at sf0.1, r10).
BFS_FRONTIER_BROADCAST_MAX = 4_000_000


def bfs_level_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    broadcast_frontier_max: int = BFS_FRONTIER_BROADCAST_MAX,
) -> DataFrame:
    """Minimum hop distance from a seed set, breadth-first, bounded by
    ``max_hops`` — the reachability primitive (who is within h hops of
    these accounts / this contamination source).

    Level-set formulation: L0 = seeds, L_h = DISTINCT out-neighbors of
    L_{h-1}; a node's distance is min h over the levels containing it.
    The per-level DISTINCT caps every frontier at |V| — the naive
    path-enumeration (recursive UNION ALL) grows with the PATH count,
    which on a dense bipartite graph is deg^h and detonates by hop 4;
    level sets make the whole walk ``max_hops`` joins + distincts,
    each bounded by the node table. Direction-sensitive: pass a
    symmetrized edge table for undirected reach.

    Scale: each level is one shuffle on the join key + one dedup
    exchange, and both the edge relation and every frontier are
    materialized ONCE (eager ``localCheckpoint``). Without that, the
    lazy unrolled plan replays the whole prefix per level: level h
    embeds levels 1..h-1, and the final union re-executes the
    caller's edge subplan O(max_hops²/2) times — measured at sf0.1
    the purchase-graph entry's physical plan held NINETY parquet
    scans of a 2-table join pre-checkpoint (r10). Frontiers are
    bounded by |V| (the point of level-set BFS), so each checkpoint
    is a bounded materialization; no driver-side collects anywhere.
    Deterministic — an unrolled SQL oracle replays it level by level.
    """
    if max_hops < 0:
        raise ValueError("bfs_level_hops: max_hops must be >= 0")
    level = seeds.select(F.col(node_col)).distinct()
    n_frontier: int | None = None
    if max_hops >= 1:
        # one materialization of the caller's edge subplan, reused by
        # every hop join (the hits/triangle_counts posture); the
        # frontier count rides each checkpoint job via observe — the
        # adaptive_join posture: measure, then choose the join strategy
        edges = pin(edges.select(src_col, dst_col))
        level, m = pin(level, n=F.count(F.lit(1)))
        n_frontier = m["n"]
    out = level.select(node_col, F.lit(0).alias("hops"))
    for h in range(1, max_hops + 1):
        frontier = (
            F.broadcast(level)
            if n_frontier is not None and n_frontier <= broadcast_frontier_max
            else level
        )
        level = (
            frontier.join(edges, frontier[node_col] == edges[src_col])
            .select(F.col(dst_col).alias(node_col))
            .distinct()
        )
        if h < max_hops:
            # pin the frontier (bounded by |V| — the point of level-set
            # BFS) so later hops join the materialized set, and measure
            # it on the same job for the next broadcast decision
            level, m = pin(level, n=F.count(F.lit(1)))
            n_frontier = m["n"]
        out = out.unionByName(
            level.select(node_col, F.lit(h).alias("hops"))
        )
    return out.groupBy(node_col).agg(
        F.min("hops").cast("long").alias("hops")
    )
