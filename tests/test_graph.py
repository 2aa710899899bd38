"""PageRank invariants on closed-form graphs plus probability-mass
conservation on the catalog graph."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_taxi_etl_spark.operators.graph import pagerank


def _ranks(spark, edges, **kw):
    df = spark.createDataFrame(edges, ["src", "dst"])
    return {r.node: r.rank for r in pagerank(df, **kw).collect()}


def test_two_node_cycle_is_uniform(spark):
    r = _ranks(spark, [("a", "b"), ("b", "a")])
    assert r["a"] == pytest.approx(0.5)
    assert r["b"] == pytest.approx(0.5)
    assert sum(r.values()) == pytest.approx(1.0)


def test_star_sink_ranks_highest_and_mass_conserved(spark):
    # a,b,c all point at hub; hub is dangling
    r = _ranks(spark, [("a", "hub"), ("b", "hub"), ("c", "hub")])
    assert r["hub"] > r["a"]
    assert r["a"] == pytest.approx(r["b"]) == pytest.approx(r["c"])
    # dangling redistribution keeps total mass at 1 every iteration
    assert sum(r.values()) == pytest.approx(1.0)


def test_chain_orders_by_depth(spark):
    r = _ranks(spark, [("a", "b"), ("b", "c")])
    assert r["c"] > r["b"] > r["a"]
    assert sum(r.values()) == pytest.approx(1.0)


# ---------------------------------------------------------------------------
# triangle_counts
# ---------------------------------------------------------------------------


def _tri(spark, pairs):
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    from nyc_taxi_etl_spark.operators.graph import triangle_counts

    rows = triangle_counts(df).collect()
    return {r["node"]: (r["degree"], r["triangles"]) for r in rows}


def test_triangle_clique_vs_chain(spark):
    # K3: every node in 1 triangle; a 4-chain: zero triangles
    t = _tri(spark, [(1, 2), (2, 3), (1, 3)])
    assert t == {1: (2, 1), 2: (2, 1), 3: (2, 1)}
    c = _tri(spark, [(1, 2), (2, 3), (3, 4)])
    assert all(tri == 0 for _, tri in c.values())
    assert c[2] == (2, 0) and c[1] == (1, 0)


def test_triangle_k4_counts(spark):
    # K4: each node in C(3,2)=3 triangles, 4 triangles total (×3 nodes)
    edges = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    t = _tri(spark, edges)
    assert all(v == (3, 3) for v in t.values())


def test_triangle_dedupes_and_ignores_direction_and_loops(spark):
    # duplicate edges, reversed duplicates, and self-loops must not
    # inflate counts — the operator canonicalizes to a<b distinct
    t = _tri(spark, [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (2, 2)])
    assert t == {1: (2, 1), 2: (2, 1), 3: (2, 1)}


def test_triangle_bowtie_center_in_two(spark):
    # two triangles sharing node 3: center participates in both
    t = _tri(spark, [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (3, 5)])
    assert t[3] == (4, 2)
    assert t[1] == (2, 1) and t[5] == (2, 1)


def test_triangle_skewed_hub_bounded_orientation(spark):
    # star hub (degree 40) + one closed triangle: degree orientation
    # points every star edge AT the hub, so the hub's out-adjacency
    # stays O(1) and counts remain exact
    star = [(100, i) for i in range(40)]
    t = _tri(spark, star + [(0, 1)])
    assert t[100] == (40, 1)
    assert t[0] == (2, 1) and t[1] == (2, 1)
    assert t[5] == (1, 0)


# ---------------------------------------------------------------------------
# global_sequence (operators/sequence.py)
# ---------------------------------------------------------------------------


def test_global_sequence_matches_row_number(spark):
    from nyc_taxi_etl_spark.operators.sequence import global_sequence

    df = spark.range(0, 1000).select(
        (F.col("id") * 37 % 1000).alias("k"), F.col("id")
    )
    out = global_sequence(df, ["k", "id"], num_partitions=7).collect()
    expect = sorted((r["k"], r["id"]) for r in out)
    got = {(r["k"], r["id"]): r["seq"] for r in out}
    assert len(got) == 1000
    for i, key in enumerate(expect, start=1):
        assert got[key] == i


def test_global_sequence_skewed_partitions(spark):
    # heavily duplicated low keys force wildly unequal range partitions;
    # offsets must still line up exactly
    from nyc_taxi_etl_spark.operators.sequence import global_sequence

    df = spark.range(0, 500).select(
        F.when(F.col("id") < 450, F.lit(0)).otherwise(F.col("id")).alias("k"),
        F.col("id"),
    )
    out = global_sequence(df, ["k", "id"], num_partitions=5).collect()
    seqs = sorted(r["seq"] for r in out)
    assert seqs == list(range(1, 501))
    by_key = sorted(((r["k"], r["id"]), r["seq"]) for r in out)
    assert [s for _, s in by_key] == list(range(1, 501))


def test_global_sequence_empty_frame(spark):
    from nyc_taxi_etl_spark.operators.sequence import global_sequence

    df = spark.range(0).select(F.col("id"))
    out = global_sequence(df, ["id"])
    assert out.collect() == []
    assert "seq" in out.columns


# ---------------------------------------------------------------------------
# hits
# ---------------------------------------------------------------------------


def _hits(spark, pairs, iterations=4):
    from nyc_taxi_etl_spark.operators.graph import hits

    df = spark.createDataFrame(pairs, ["src", "dst"])
    hubs, auth = hits(df, iterations=iterations)
    return (
        {r["node"]: r["hub"] for r in hubs.collect()},
        {r["node"]: r["authority"] for r in auth.collect()},
    )


def test_hits_popular_authority_wins(spark):
    # s1 bought by all three customers, s2 by one: s1 must out-rank s2;
    # the broad customer (links to both) out-hubs the narrow ones
    h, a = _hits(spark, [(1, 10), (2, 10), (3, 10), (3, 20)])
    assert a[10] > a[20]
    assert h[3] > h[1]
    assert h[1] == pytest.approx(h[2])


def test_hits_scores_l2_normalized(spark):
    h, a = _hits(spark, [(1, 10), (2, 10), (2, 20), (3, 30)])
    assert sum(v * v for v in h.values()) == pytest.approx(1.0)
    assert sum(v * v for v in a.values()) == pytest.approx(1.0)


def test_hits_symmetric_components_tie(spark):
    # two disjoint identical 1->1 components: all hubs equal, all
    # authorities equal
    h, a = _hits(spark, [(1, 10), (2, 20)])
    assert h[1] == pytest.approx(h[2])
    assert a[10] == pytest.approx(a[20])


def test_hits_rejects_zero_iterations(spark):
    from nyc_taxi_etl_spark.operators.graph import hits

    df = spark.createDataFrame([(1, 2)], ["src", "dst"])
    with pytest.raises(ValueError):
        hits(df, iterations=0)


def test_hits_empty_edges_typed_empty(spark):
    from nyc_taxi_etl_spark.operators.graph import hits

    df = spark.createDataFrame([], "src long, dst long")
    hubs, auth = hits(df)
    assert hubs.collect() == [] and auth.collect() == []
    assert hubs.columns == ["node", "hub"]
    assert auth.columns == ["node", "authority"]


def test_global_sequence_broadcast_offset_path(spark, monkeypatch):
    # force the >_MAP_LITERAL_MAX branch (broadcast equi-join offsets)
    # and confirm it produces the identical dense sequence
    from nyc_taxi_etl_spark.operators import sequence as seq_mod
    from nyc_taxi_etl_spark.operators.sequence import global_sequence

    monkeypatch.setattr(seq_mod, "_MAP_LITERAL_MAX", 2)
    df = spark.range(0, 300).select(
        (F.col("id") * 7 % 300).alias("k"), F.col("id")
    )
    out = global_sequence(df, ["k", "id"], num_partitions=6)
    assert "seq" in out.columns and "_pid" not in out.columns
    rows = out.collect()
    by_key = sorted(((r["k"], r["id"]), r["seq"]) for r in rows)
    assert [s for _, s in by_key] == list(range(1, 301))


def test_bfs_level_hops_min_distance_and_direction(spark):
    """Pinned hop distances on a directed path + branch; a node
    reachable two ways gets the MIN hop count; unreachable nodes are
    absent; direction respected unless the caller symmetrizes."""
    from nyc_taxi_etl_spark.operators.graph import bfs_level_hops

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "e"), ("e", "d"),
         ("x", "a")],
        "src: string, dst: string",
    )
    seeds = spark.createDataFrame([("a",)], "node: string")
    got = {r["node"]: r["hops"] for r in
           bfs_level_hops(edges, seeds, max_hops=4).collect()}
    # d: a->b->c->d (3 hops) vs a->e->d (2 hops) -> min 2
    assert got == {"a": 0, "b": 1, "c": 2, "d": 2, "e": 1}
    # 'x' only reaches INTO a; never reached from a (directed)
    assert "x" not in got
    # hop bound respected
    got1 = {r["node"]: r["hops"] for r in
            bfs_level_hops(edges, seeds, max_hops=1).collect()}
    assert got1 == {"a": 0, "b": 1, "e": 1}
    # max_hops=0: just the (deduped) seeds
    got0 = bfs_level_hops(edges, seeds.union(seeds), max_hops=0).collect()
    assert [(r["node"], r["hops"]) for r in got0] == [("a", 0)]
    with pytest.raises(ValueError, match="max_hops"):
        bfs_level_hops(edges, seeds, max_hops=-1)


# ---------------------------------------------------------------------------
# broadcast-round vs co-partitioned-round path equivalence (r10)
# ---------------------------------------------------------------------------


def test_pagerank_broadcast_and_copartitioned_paths_agree(spark):
    """The measured score-broadcast rounds (small graphs) and the
    co-partitioned sorted-layout rounds (the at-scale path, forced
    with score_broadcast_max=0) are the same power iteration — ranks
    must agree to float ulp on a graph with dangling mass."""
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    small = {r.node: r.rank for r in pagerank(df).collect()}
    large = {
        r.node: r.rank
        for r in pagerank(df, score_broadcast_max=0).collect()
    }
    assert set(small) == set(large)
    for node in small:
        assert small[node] == pytest.approx(large[node], rel=1e-12), node


def test_triangle_broadcast_and_shuffle_paths_agree(spark):
    """The degree-broadcast orientation (small graphs) and the shuffle
    orientation joins (the at-scale path, forced with
    score_broadcast_max=0) enumerate the same triangle set — counts
    are exact integers so the paths must agree exactly (r10 ADVICE:
    the large path was previously untestable)."""
    from nyc_taxi_etl_spark.operators.graph import triangle_counts

    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (3, 5), (5, 6)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    small = {
        r["node"]: (r["degree"], r["triangles"])
        for r in triangle_counts(df).collect()
    }
    large = {
        r["node"]: (r["degree"], r["triangles"])
        for r in triangle_counts(df, score_broadcast_max=0).collect()
    }
    assert small == large


def test_hits_broadcast_and_copartitioned_paths_agree(spark):
    from nyc_taxi_etl_spark.operators.graph import hits

    edges = [("u1", "v1"), ("u1", "v2"), ("u2", "v2"), ("u3", "v1"),
             ("u3", "v3")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    h1, a1 = hits(df)
    h2, a2 = hits(df, score_broadcast_max=0)
    hs1 = {r.node: r.hub for r in h1.collect()}
    hs2 = {r.node: r.hub for r in h2.collect()}
    as1 = {r.node: r.authority for r in a1.collect()}
    as2 = {r.node: r.authority for r in a2.collect()}
    assert set(hs1) == set(hs2) and set(as1) == set(as2)
    for n in hs1:
        assert hs1[n] == pytest.approx(hs2[n], rel=1e-12), n
    for n in as1:
        assert as1[n] == pytest.approx(as2[n], rel=1e-12), n


@pytest.mark.parametrize("score_broadcast_max", [None, 0])
@pytest.mark.parametrize("algo", ["hits", "pagerank"])
def test_graph_loops_restore_the_shuffle_width(spark, algo, score_broadcast_max):
    """The rank loops narrow ``spark.sql.shuffle.partitions`` to the
    graph's size for their rounds (1 here) and give the session its
    own value back afterwards, on the broadcast path and on the forced
    large path alike."""
    from nyc_taxi_etl_spark.operators import graph

    kw = {} if score_broadcast_max is None else {
        "score_broadcast_max": score_broadcast_max
    }
    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a")], ["src", "dst"]
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    assert prev != "1"
    out = getattr(graph, algo)(df, **kw)
    for frame in out if isinstance(out, tuple) else (out,):
        frame.collect()
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
