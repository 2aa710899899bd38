"""Physical-plan regression tests: the optimizations the engine relies
on for 100 TB behavior must actually appear in the plans — predicate
pushdown into the parquet scan, column pruning, broadcast joins for
dims, partial (map-side) aggregation, and whole-stage codegen."""

from __future__ import annotations

import contextlib
import io

import pytest

from nyc_taxi_etl_spark.plans import CATALOG

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    """Formatted explain output (untruncated scan details —
    executedPlan().toString() elides PushedFilters)."""
    df = CATALOG[name](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(spark, "valid_lines_unit_price")
    assert "PushedFilters: [" in plan
    # the validity predicates, not just IsNotNull
    assert "GreaterThan(l_quantity,0.0)" in plan


def test_column_pruning_minimal_readschema(spark):
    plan = _plan(spark, "events_time_profile")
    # events has 6 columns; the hour/dow profile needs exactly ts+value.
    # Assert on the pruned column SET, not the parquet physical type of
    # ts (the generated testdata has shipped it as both bigint and
    # timestamp_ntz across rounds — pruning is what this test pins).
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = sorted(field.split(":")[0] for field in m.group(1).split(","))
    assert cols == ["ts", "value"], m.group(0)


def test_dim_joins_broadcast(spark):
    # nation (25 rows) + region (5 rows) carry explicit broadcast hints;
    # customer is SF-scaled so it must NOT be force-broadcast — AQE
    # size-picks its join strategy at runtime.
    df = CATALOG["region_order_revenue"](spark, SF_DIR)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint (strategy=broadcast)") == 2
    # at tiny SF, AQE still broadcast-converts the customer join from
    # its measured size — no sort-merge anywhere in the final plan
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in final
    assert "BroadcastHashJoin" in final


@pytest.mark.parametrize(
    ("name", "allowed_hints"),
    [
        # (query, number of broadcast hints allowed — fixed-cardinality
        # dims / 1-row scalar aggregates only; SF-scaled tables such as
        # customer (150K rows/SF) and supplier (10K rows/SF) must never
        # carry a forced broadcast)
        ("region_order_revenue", 2),  # nation, region
        ("top_suppliers_per_nation", 0),  # supplier: AQE decides
        ("priority_nation_filter", 0),  # customer: AQE decides
        ("daily_pct_of_baseline", 1),  # per-type baseline aggregate
    ],
)
def test_no_forced_broadcast_on_sf_scaled_tables(spark, name, allowed_hints):
    df = CATALOG[name](spark, SF_DIR)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint (strategy=broadcast)") == allowed_hints


def test_partial_aggregation_before_exchange(spark):
    plan = _plan(spark, "returnflag_summary")
    # map-side combine: partial_ aggregate functions below the exchange
    assert "partial_count" in plan and "partial_sum" in plan
    assert plan.count("hashpartitioning(") == 1  # exactly one shuffle


def test_wholestage_codegen_active(spark):
    # codegen stage markers (*(n)) appear once AQE finalizes the plan
    df = CATALOG["events_time_profile"](spark, SF_DIR)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    assert "*(" in final


def test_topk_plans_take_ordered(spark):
    plan = _plan(spark, "top_users_by_events")
    assert "TakeOrderedAndProject" in plan  # no full sort for top-k


def test_deterministic_sample_is_scan_level_filter(spark):
    plan = _plan(spark, "stratified_order_sample")
    # no shuffle at all: a narrow filter+project over the scan
    assert "Exchange" not in plan


def test_doc_top_terms_broadcasts_corpus_size(spark):
    # N (1-row aggregate) must reach the scorer via broadcast, never a
    # shuffled cross join
    plan = _plan(spark, "doc_top_terms")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_shingle_frequency_pushes_partial_agg(spark):
    plan = _plan(spark, "shingle_doc_frequency")
    assert "partial_count" in plan


def test_events_time_rollup_single_expand_single_shuffle(spark):
    # ROLLUP = one Expand + one exchange, not one scan per granularity
    plan = _plan(spark, "events_time_rollup")
    assert plan.count("Location: InMemoryFileIndex") == 1  # one scan node
    assert "Expand" in plan
    assert plan.count("hashpartitioning(") == 1


def test_sessionize_single_sort_shuffle(spark):
    plan = _plan(spark, "user_sessions")
    # lag + running sum + groupBy(user, session) all reuse the
    # (user_id) partitioning: exactly one exchange on user_id
    assert plan.count("hashpartitioning(user_id") == 1


def test_events_time_profile_single_scan_single_shuffle(spark):
    # GROUPING SETS ((hour),(dow)) = one scan + one Expand + one
    # exchange — not one aggregation job per grain
    plan = _plan(spark, "events_time_profile")
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "Expand" in plan
    assert plan.count("hashpartitioning(") == 1


def test_embedding_near_pairs_no_cross_join(spark):
    # the LSH-gated near-pairs plan must be candidate-driven: vectors
    # attach to candidate pairs via equi-joins; the O(n²) inequality
    # cross join must not appear anywhere
    plan = _plan(spark, "embedding_near_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_verify_prunes_before_shingling(spark):
    # the Jaccard verify stage must semi-join-prune docs to the
    # candidate set BEFORE the (expensive) shingle extraction: the
    # plan carries LeftSemi joins under the posting explodes
    plan = _plan(spark, "minhash_lsh_near_pairs")
    assert "LeftSemi" in plan


def test_pii_redaction_zero_shuffle_single_scan(spark):
    # the regexp chain is row-local: no exchange of any kind, one scan
    plan = _plan(spark, "doc_pii_redaction")
    assert "Exchange" not in plan
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_training_split_one_agg_shuffle(spark):
    # md5->CASE split is a narrow projection; the rollup is one
    # partial+final hash-agg on the 3-value split key
    plan = _plan(spark, "training_split_counts")
    assert plan.count("hashpartitioning(") == 1
    assert "partial_count" in plan


def test_pagerank_round_is_single_exchange_when_copartitioned(spark):
    """PageRank's per-round contract at scale: with the edge⋈degree
    relation and node list hash-repartitioned once on their join keys
    and pinned (operators/graph.py::pagerank), a power-iteration round
    needs exactly ONE shuffle exchange — the contribution agg on dst.
    The probe mirrors the loop body with AQE + auto-broadcast off (the
    large-table regime where co-partitioning is what saves the
    exchanges; with them on, tiny test relations all broadcast)."""
    from pyspark.sql import functions as F

    from nyc_taxi_etl_spark.pins import pin

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
        edges = spark.createDataFrame(
            [(f"c{i % 50}", f"s{(i * 7) % 20}") for i in range(500)],
            "src string, dst string",
        )
        e = edges.distinct()
        deg = e.groupBy("src").agg(
            F.count("*").cast("double").alias("outdeg")
        )
        ed = pin(
            e.join(deg, "src")
            .repartition(n_part, "src")
            .sortWithinPartitions("src")
        )
        nodes, m = pin(
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
            .repartition(n_part, "node")
            .sortWithinPartitions("node"),
            n=F.count(F.lit(1)),
        )
        ranks = pin(nodes.select("node", F.lit(1.0 / m["n"]).alias("rank")))
        # one loop-body round (graph.py::pagerank)
        contrib = (
            ed.join(ranks, ed["src"] == ranks["node"])
            .select("dst", (F.col("rank") / F.col("outdeg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inc"))
        )
        raw = nodes.join(
            contrib, nodes["node"] == contrib["dst"], "left"
        ).select(
            "node",
            (F.lit(0.1) + F.lit(0.85) * F.coalesce("inc", F.lit(0.0))).alias(
                "rank"
            ),
        )
        raw.collect()

        # walk the executed plan; a pinned frame is a leaf scan
        # (RDDScanExec), so only THIS round's exchanges are counted
        shuffles = []
        def walk(jnode):
            name = jnode.getClass().getSimpleName()
            if name == "ShuffleExchangeExec":
                shuffles.append(jnode.outputPartitioning().toString())
            for i in range(jnode.children().size()):
                walk(jnode.children().apply(i))

        walk(raw._jdf.queryExecution().executedPlan())
        assert len(shuffles) == 1, shuffles
        assert "dst" in shuffles[0], shuffles  # the contribution agg
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_ann_lsh_knn_single_signature_scan(spark):
    """hyperplane_lsh_knn computes ALL table signatures in one
    projection + posexplode per side and dedups candidates on bare id
    pairs: the corpus parquet is scanned a constant number of times
    (signatures + vector re-attach), NOT once per LSH table — the r3
    shape unioned `tables` scans, each re-evaluating the signature
    subtree."""
    plan = _plan(spark, "ann_lsh_cosine")
    # corpus signatures, corpus vectors, query signatures, query
    # vectors: <= 4 scans regardless of the table count (10 here)
    assert plan.count("Location: InMemoryFileIndex") <= 4, plan.count(
        "Location: InMemoryFileIndex"
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dsir_single_pass_model_and_broadcast_totals(spark):
    """DSIR's two LMs come from ONE token explode feeding one hash-agg
    with conditional sums (not a scan per domain), and the totals pass
    must REUSE the model's shuffle rather than re-tokenize the corpus
    — the explicit isnotnull in dsir._exploded exists exactly so both
    consumers stay canonically identical and exchange reuse fires."""
    df = CATALOG["dsir_selected_docs"](spark, SF_DIR)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed
    # totals ride a broadcast; the corpus itself is never broadcast by
    # force (AQE owns the ratio-join strategy)
    assert "BroadcastExchange" in executed
    static = _plan(spark, "dsir_selected_docs")
    # scoring + model + (statically duplicated, runtime-reused) totals:
    # 3 scan nodes, each printed twice by explain (tree + details)
    assert static.count("Scan parquet") == 6


def test_global_seq_no_single_partition_window(spark):
    """orders_global_seq must not contain the single-partition global
    window/sort it exists to replace: no Window operator, no
    SinglePartition exchange — just a projection over the pinned
    (checkpointed) range split, which stays multi-partition. The
    range exchange itself lives inside the checkpointed lineage, so
    parallelism is asserted on the executed partitioning."""
    plan = _plan(spark, "orders_global_seq")
    assert "Window" not in plan, plan
    assert "SinglePartition" not in plan, plan
    df = CATALOG["orders_global_seq"](spark, SF_DIR)
    assert df.rdd.getNumPartitions() > 1


def test_gini_single_agg_over_parallel_ranks(spark):
    plan = _plan(spark, "customer_revenue_gini")
    assert "Window" not in plan, plan
    assert "SinglePartition" in plan  # ONLY the final 1-row moment agg
    # the 1-row reduction must sit above a partial agg, so the global
    # exchange moves one row per task, not the ranked relation
    assert "partial" in plan.lower(), plan


def test_triangle_counts_no_cartesian_bounded_joins(spark):
    plan = _plan(spark, "near_dup_triangles")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_scd2_single_exchange(spark):
    """scd2_history's two key-partitioned windows must share ONE hash
    partitioning: the executed plan has exactly one shuffle, on the
    key — the gaps-and-islands groupBy rewrite (which extends the
    partitioning with the run id and shuffles twice) is the shape
    this operator exists to avoid."""
    df = CATALOG["customer_priority_scd2"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one shuffle on the key; the second window adds NO sort of its
    # own (same partitioning + same ordering as the first)
    shuffles = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(shuffles) == 1, shuffles
    assert "custkey" in shuffles[0], shuffles
    assert plan.count("Sort [") == 1, plan


def test_tpch_shapes_push_filters_and_broadcast_dims(spark):
    """The r7 TPC-H shapes rely on scan pushdown + broadcast dims."""
    # Q14: the ship-date window must reach the lineitem scan
    plan = _plan(spark, "promo_revenue_share")
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]
    assert "BroadcastHashJoin" in plan  # part side broadcast
    # Q19: the derivable part-only prefix of the OR must prune the
    # part scan (constraint propagation), and part stays broadcast
    plan = _plan(spark, "disjunctive_basket_revenue")
    assert "BroadcastHashJoin" in plan
    # Q16: the NOT IN exclusion plans as a broadcast anti join, never
    # a shuffled one (the exclusion list is a supplier-slice)
    plan = _plan(spark, "brand_type_supplier_counts")
    assert "BroadcastHashJoin LeftAnti" in plan.replace(
        "BuildRight, false", ""
    ) or ("LeftAnti" in plan and "BroadcastHashJoin" in plan)


def test_tpch_scalar_aggregates_reuse_exchange(spark):
    """Q11/Q15: the grand-total / scalar-max is an aggregate OVER the
    per-group result — the statically duplicated per-group subtree
    must be runtime-reused by AQE (ReusedExchange in the executed
    plan) rather than scanning lineitem twice."""
    for name in ("important_parts_value", "top_revenue_supplier"):
        df = CATALOG[name](spark, SF_DIR)
        df.collect()
        executed = df._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in executed, name


def test_ppjoin_no_cartesian_single_shingle_pass_per_side(spark, monkeypatch):
    """PPJoin: candidates come from the prefix equi-join (no nested
    loop anywhere), and the doc-partitioned rank window is never a
    single-partition sort.

    Inspected with ``pin`` replaced by the identity: the production
    path pins the shingled corpus (it feeds multiple plan sites),
    which truncates that subtree out of the final frame's explain —
    the lazy variant exposes the full plan the pin job executes."""
    import io as _io
    import contextlib as _ctx

    from nyc_taxi_etl_spark.operators import ppjoin as ppjoin_module
    from nyc_taxi_etl_spark.sources.catalog import load_table

    docs = load_table(spark, SF_DIR, "documents")
    monkeypatch.setattr(ppjoin_module, "pin", lambda df: df)
    df = ppjoin_module.ppjoin_pairs(docs, threshold=0.5)
    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan
    # the rank window partitions by doc — a global (unpartitioned)
    # window would plan an Exchange SinglePartition
    assert "SinglePartition" not in plan
    # the production (pinned) plan keeps the same join posture
    monkeypatch.undo()
    mplan = _plan(spark, "ppjoin_near_pairs")
    assert "CartesianProduct" not in mplan
    assert "BroadcastNestedLoopJoin" not in mplan
    assert "SinglePartition" not in mplan


def test_completing_tpch_shapes_plan_posture(spark):
    """Q8/Q9/Q10/Q18/Q20 (r7 completion): dims broadcast, filters
    pushed, no nested loops anywhere."""
    for name, pushed in (
        ("nation_market_share", None),
        ("nation_profit_by_year", None),
        (
            "returned_revenue_top_customers",
            "GreaterThanOrEqual(o_orderdate",
        ),
        ("large_volume_orders", None),
        ("dominant_part_suppliers", "GreaterThanOrEqual(l_shipdate"),
    ):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "BroadcastHashJoin" in plan, name
        if pushed:
            # the predicate reaches ITS table's parquet scan (the plan
            # has several scans; search the whole formatted output)
            assert pushed in plan, name
    # Q10 must cut with TakeOrdered(20), never a global sort
    plan = _plan(spark, "returned_revenue_top_customers")
    assert "TakeOrderedAndProject" in plan, plan[:1500]
    # Q20's part-grain aggregate is an aggregate OVER the
    # (part, supplier) result — runtime exchange reuse, one scan
    df = CATALOG["dominant_part_suppliers"](spark, SF_DIR)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed


def test_skyline_windows_partitioned_bucket_grain_bounded(spark):
    """part_price_skyline exists to avoid both skyline traps: the
    O(n²) dominance self-join (no cartesian/BNLJ anywhere) and the
    unpartitioned data-sized RANGE window. The data-sized windows are
    partitioned (by _sky_bucket / by the price value); the ONLY
    SinglePartition exchange is the bucket-GRAIN prefix-max window,
    which is bounded metadata (value-range / bucket_width rows) and
    sits above a map-side partial max, so the global exchange moves
    one row per (task, bucket), never the part table."""
    plan = _plan(spark, "part_price_skyline")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("SinglePartition") == 1, plan
    assert "partial_max" in plan or "partial" in plan.lower(), plan
    # the per-row windows carry a partition spec (never a global sort
    # of the data): every Window's partition list is non-empty except
    # the bucket-grain one, which orders by _sky_bucket
    assert "_sky_bucket" in plan
    # window fusion: the same-price max rides a RANGE(0,0) frame on
    # the SAME (bucket, price) window spec — a partitionBy(price)
    # formulation would add a second data-sized hash exchange
    assert "hashpartitioning(price_cents" not in plan, plan


def test_sorted_neighborhood_banded_equijoin(spark):
    """part_name_linkage's band predicate must ride a shuffled
    EQUI-join on the exploded band key — never a cross join, a
    broadcast nested loop, or a window: the O(n·w) pair budget is the
    operator's whole contract. global_sequence supplies the order, so
    no Window operator and no SinglePartition exchange appear at all
    (the range exchange lives inside the pinned checkpoint)."""
    plan = _plan(spark, "part_name_linkage")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Window" not in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "_snb_g" in plan  # the band key IS the join key
