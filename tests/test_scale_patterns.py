"""Scale-pattern tests: bucketed co-located joins plan with zero
shuffle Exchanges; salted aggregation/join match their plain
equivalents exactly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_taxi_etl_spark.functions.skew import salted_agg, salted_broadcast_join
from nyc_taxi_etl_spark.sources.bucketing import bucket_table, is_exchange_free

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def bucketed(spark, tmp_path_factory):
    # warehouse dir is a static conf — managed tables land in the
    # session default; DROP TABLE in teardown removes the files
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    bucket_table(li, "lineitem_b", ["l_orderkey"], 8)
    bucket_table(o, "orders_b", ["o_orderkey"], 8)
    yield spark
    spark.sql("DROP TABLE IF EXISTS lineitem_b")
    spark.sql("DROP TABLE IF EXISTS orders_b")


def test_bucketed_join_is_exchange_free(bucketed):
    spark = bucketed
    # disable AQE broadcast conversion so the sort-merge path is planned
    with_amj = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("lineitem_b").join(
            spark.table("orders_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        assert is_exchange_free(j), j._jdf.queryExecution().executedPlan().toString()
        # and it computes the right thing
        expect = (
            spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
            .join(
                spark.read.parquet(f"{SF_DIR}/orders.parquet"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .count()
        )
        assert j.count() == expect
    finally:
        if with_amj is not None:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", with_amj)


def test_bucketed_agg_is_exchange_free(bucketed):
    spark = bucketed
    g = spark.table("lineitem_b").groupBy("l_orderkey").agg(F.sum("l_quantity"))
    assert is_exchange_free(g), g._jdf.queryExecution().executedPlan().toString()


def test_unbucketed_join_has_exchange(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        assert not is_exchange_free(j)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_salted_agg_matches_plain(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    salted = salted_agg(
        li,
        ["l_returnflag"],
        {
            "n": ("count", F.count("*")),
            "qty": ("sum", F.sum("l_quantity")),
            "hi": ("max", F.max("l_extendedprice")),
            "lo": ("min", F.min("l_extendedprice")),
        },
        salt_buckets=7,
    ).toPandas().set_index("l_returnflag").sort_index()
    plain = (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum("l_quantity").alias("qty"),
            F.max("l_extendedprice").alias("hi"),
            F.min("l_extendedprice").alias("lo"),
        )
        .toPandas()
        .set_index("l_returnflag")
        .sort_index()
    )
    assert (salted["n"] == plain["n"]).all()
    assert (abs(salted["qty"] - plain["qty"]) < 1e-6).all()
    assert (salted["hi"] == plain["hi"]).all() and (salted["lo"] == plain["lo"]).all()


def test_salted_agg_rejects_unknown_merge(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    with pytest.raises(ValueError, match="unsupported"):
        salted_agg(li, ["l_returnflag"], {"a": ("avg", F.avg("l_quantity"))})


def test_salted_join_matches_plain(spark):
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet").select("c_custkey", "c_name")
    salted = salted_broadcast_join(o, c, "o_custkey", "c_custkey", salt_buckets=5)
    plain = o.join(c, F.col("o_custkey") == F.col("c_custkey"))
    assert salted.count() == plain.count()
    s_rev = salted.agg(F.sum("o_totalprice")).collect()[0][0]
    p_rev = plain.agg(F.sum("o_totalprice")).collect()[0][0]
    assert abs(s_rev - p_rev) < 1e-4


def test_two_phase_topk_equals_direct_window(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from nyc_taxi_etl_spark.functions.skew import two_phase_topk
    from nyc_taxi_etl_spark.sources.catalog import load_table
    from .conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").select(
        "event_type", "event_id", "value"
    ).repartition(16)  # several partitions so phase 1 truncation matters
    got = two_phase_topk(ev, ["event_type"], "value", "event_id", k=5)
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    want = (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .drop("rk")
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_two_phase_topk_hot_group(spark):
    from pyspark.sql import functions as F

    from nyc_taxi_etl_spark.functions.skew import two_phase_topk

    # one group holds 99% of rows; k must still come out exact
    hot = spark.range(10_000).select(
        F.lit("hot").alias("g"), F.col("id").alias("tie"),
        (F.col("id") % 97).cast("double").alias("m"),
    )
    cold = spark.range(10).select(
        F.lit("cold").alias("g"), F.col("id").alias("tie"),
        F.col("id").cast("double").alias("m"),
    )
    df = hot.unionByName(cold).repartition(8)
    out = two_phase_topk(df, ["g"], "m", "tie", k=3).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r.g, []).append((r.m, r.tie))
    # hot: metric 96 appears many times; ties resolve to smallest ids
    assert by_g["hot"] == [(96.0, 96), (96.0, 193), (96.0, 290)]
    assert by_g["cold"] == [(9.0, 9), (8.0, 8), (7.0, 7)]


def test_dedup_growth_is_subquadratic_on_synth_corpus(spark):
    """Empirical scale check: double the corpus (corpussynth generator,
    executor-parallel, zero input files) and the minhash-LSH candidate
    count must grow far slower than the 4x a quadratic all-pairs path
    would show — the bucketed blocking is doing its job. Counts, not
    wall-clock, so the assertion is load-independent."""
    from nyc_taxi_etl_spark.operators.dedup import minhash_lsh_pairs
    from nyc_taxi_etl_spark.sources.pysource import register_python_sources

    register_python_sources(spark)

    def pairs_at(n: int) -> int:
        docs = (
            spark.read.format("corpussynth")
            .option("n_docs", n)
            .option("n_parts", 8)
            .option("seed", 9)
            .load()
        )
        return minhash_lsh_pairs(
            docs, k=3, num_hashes=12, bands=4, verify_threshold=0.5
        ).count()

    p1, p2 = pairs_at(4000), pairs_at(8000)
    # quadratic all-pairs would multiply by ~4; verified near-dup pairs
    # from a shared-vocab generator grow roughly linearly-to-modestly
    assert p2 < 4 * max(p1, 1), (p1, p2)
    assert p2 >= p1  # more docs can only add pairs under a fixed seed


def test_ann_per_item_candidates_bounded_when_bits_track_corpus(spark):
    """Embedding-stack scale check, stated the way the operators
    document it: fixed-parameter LSH candidate counts are Θ(n²·p^bits)
    — sub-quadratic TOTAL work comes from growing ``bits`` with
    log₂(n) (the same contract as SemDeDup's n_centroids ∝ √n). With
    one extra bit per corpus doubling, the MEAN candidates PER VECTOR
    must stay ~flat (each extra bit halves bucket-collision odds for
    the near-orthogonal bulk, cancelling the doubled corpus).
    Counts, not wall-clock, so the assertion is load-independent.

    Embeddings are hash-derived pseudo-random 64-dim vectors (pairwise
    cosines concentrate near 0 — the spread-out geometry of a deduped
    real corpus; the template-heavy corpussynth text embeds into
    near-parallel vectors where NO blocking scheme discriminates,
    which is why dedup runs before ANN in the curation pipeline)."""
    from nyc_taxi_etl_spark.operators.similarity import hyperplane_lsh_pairs

    def cands_per_item(n: int, bits: int) -> float:
        ids = spark.range(n).select(F.col("id").alias("vec_id"))
        emb = ids.select(
            "vec_id",
            F.expr(
                "transform(sequence(0, 63), i -> "
                "CAST(xxhash64(vec_id * 64 + i) % 1000001 AS DOUBLE)"
                " / 500000.0)"
            ).alias("embedding"),
        )
        total = hyperplane_lsh_pairs(
            emb, bits=bits, tables=4, dim=64, seed=7
        ).count()
        return total / n

    small = cands_per_item(3000, bits=10)
    big = cands_per_item(6000, bits=11)
    # quadratic-with-fixed-bits would double per-item work; the bit
    # schedule must hold it ~flat (generous 1.5x noise margin)
    assert big < 1.5 * max(small, 1.0), (small, big)


def test_global_sequence_parallel_at_2m_rows(spark):
    """global_sequence on 2M rows: exact dense 1..n (endpoints + spot
    permutation probes), and the work is spread across the requested
    partitions — the single-partition window this operator replaces
    would put all 2M rows in one task."""
    from pyspark.sql import functions as F

    from nyc_taxi_etl_spark.operators.sequence import global_sequence

    n = 2_000_000
    df = spark.range(0, n).select(
        F.xxhash64("id").alias("k"), F.col("id")
    )
    out = global_sequence(df, ["k", "id"], num_partitions=32)
    stats = out.agg(
        F.count("*").alias("cnt"),
        F.min("seq").alias("lo"),
        F.max("seq").alias("hi"),
        F.countDistinct("seq").alias("nd"),
    ).collect()[0]
    assert (stats["cnt"], stats["lo"], stats["hi"], stats["nd"]) == (
        n,
        1,
        n,
        n,
    )
    # order agreement: seq must be monotone in k — adjacent-rank probes
    probe = (
        out.filter(F.col("seq").isin(1, 2, 1_000_000, 1_000_001, n - 1, n))
        .orderBy("seq")
        .collect()
    )
    ks = [r["k"] for r in probe]
    assert ks == sorted(ks)
    # parallelism: the final pass keeps the range split (no collapse
    # into one partition)
    n_parts = out.rdd.getNumPartitions()
    assert n_parts > 1


def test_global_sequence_rejects_column_collisions(spark):
    """ADVICE r5: out_col (or the _pid/_local/_off internals of the
    >4096-partition join path) colliding with an existing column must
    raise, not silently replace the caller's data."""
    import pytest

    from nyc_taxi_etl_spark.operators.sequence import global_sequence

    df = spark.range(10).select(F.col("id"), F.lit(0).alias("seq"))
    with pytest.raises(ValueError, match="out_col"):
        global_sequence(df, ["id"], out_col="seq")
    df2 = spark.range(10).select(F.col("id"), F.lit(0).alias("_pid"))
    with pytest.raises(ValueError, match="_pid"):
        global_sequence(df2, ["id"])
    # a clean frame still works under any out_col name
    out = global_sequence(
        spark.range(5).select("id"), ["id"], out_col="rownum"
    )
    assert [r["rownum"] for r in out.orderBy("id").collect()] == [1, 2, 3, 4, 5]


@pytest.mark.parametrize(
    "entry",
    [
        "value_psi_drift",  # two <=10-row bin tables (r7 self-audit)
        "part_basket_affinity",  # distinct (order, part) item frame
        "bm25_scores",  # per-doc tf table shared by 3 subtrees
        "lang_source_chisq",  # observed-cell table shared by marginals
        "curate_documents",  # exact-kept corpus shared by LSH + anti-join
        "doc_chunks_packed",  # (id, n_tokens) projection, 3 consumers
    ],
)
def test_entry_leaves_no_cached_frames(spark, entry):
    """r7 self-audit: these entries' shared subframes used to be
    persist()ed with no unpersist — the same cache-leak class as the
    r6 ngram-candidates advice (the entry returns a LAZY frame, so an
    in-entry persist can never be released and CacheManager entries
    accumulate per bench/oracle call). Now eager localCheckpoints:
    repeated calls must not accumulate CacheManager entries."""
    from nyc_taxi_etl_spark.plans import CATALOG

    fn = CATALOG[entry]
    cm = spark._jsparkSession.sharedState().cacheManager()
    before_empty = cm.isEmpty()
    for _ in range(2):
        fn(spark, "/root/testdata/sf0.001").count()
    assert cm.isEmpty() or not before_empty


def _modules_matching(pattern: str) -> set[str]:
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent / "nyc_taxi_etl_spark"
    return {
        str(py.relative_to(root))
        for py in root.rglob("*.py")
        if re.search(pattern, py.read_text())
    }


def test_no_entry_level_persist_without_release():
    """Static guard for the whole leak class: no plans/ module and no
    operator on a lazy-return path may call .persist() — every
    multi-consumer subframe must use ``pins.pin`` (an eager
    localCheckpoint whose blocks are ContextCleaner-released when the
    frame is unreferenced) or be released in-function. No module is
    exempt."""
    offenders = _modules_matching(r"\.persist\(")
    assert offenders == set(), (
        f"persist() without a release path in {offenders}; use "
        "pins.pin (or unpersist in-function) instead"
    )


def test_every_versioned_commit_goes_through_one_function():
    """Static guard: one commit path. Only ``VersionedTable.commit``
    calls ``_publish``, and the materialized views reach their state
    table through its public methods, never its private ones."""
    import ast
    import pathlib

    assert _modules_matching(r"_publish\(") == {"sources/versioned.py"}
    src = pathlib.Path(__file__).resolve().parent.parent.joinpath(
        "nyc_taxi_etl_spark", "sources", "versioned.py"
    ).read_text()
    callers = [
        fn.name
        for fn in ast.walk(ast.parse(src))
        if isinstance(fn, ast.FunctionDef)
        for node in ast.walk(fn)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "_publish"
    ]
    assert callers == ["commit"]
    assert _modules_matching(r"\.state\._") == set()


def test_every_pin_goes_through_pins_module():
    """Static guard: every eager materialization is ``pins.pin``, so
    there is one place that decides how a frame is pinned."""
    assert _modules_matching(r"\.localCheckpoint\(") == {"pins.py"}


def test_observations_only_in_pin_and_etl_writes():
    """Static guard: driver-side metrics ride a pin (``pin(df, n=...)``);
    the only other Observations are the ETL write's row counts."""
    assert _modules_matching(r"Observation\(") == {"pins.py", "etl.py"}


def test_every_knn_ranks_through_one_window():
    """Static guard: one rank contract. The only window that sorts by
    ``cosine_sim`` is ``similarity._top_k``; every kNN operator ends
    in it."""
    import pathlib
    import re

    pattern = r'F\.desc\("cosine_sim"\)'
    assert _modules_matching(pattern) == {"operators/similarity.py"}
    src = pathlib.Path(__file__).resolve().parent.parent.joinpath(
        "nyc_taxi_etl_spark", "operators", "similarity.py"
    ).read_text()
    assert len(re.findall(pattern, src)) == 1


def test_every_temp_dir_goes_through_scratch_module():
    """Static guard: only ``sources/scratch.py`` makes temp directories,
    so every one has an owner that removes it."""
    assert _modules_matching(r"mkdtemp\(|gettempdir\(") == {"sources/scratch.py"}


def test_every_partition_width_goes_through_width_module():
    """Static guard: one module decides partition counts. Only
    ``width.py`` reads or sets the session's shuffle width, reads the
    core count, or probes a frame's partition or file count; no module
    names the private width helpers it replaced."""
    shuffle_conf = r'conf\.(set|get)\("spark\.sql\.shuffle\.partitions"'
    assert _modules_matching(shuffle_conf) == {"width.py"}
    assert _modules_matching(r"\.inputFiles\(") == {"width.py"}
    assert _modules_matching(r"\.getNumPartitions\(") == {"width.py"}
    assert _modules_matching(r"\.defaultParallelism\b") == {"width.py"}
    assert _modules_matching(
        r"_ensure_parallelism|_pin_verify_width|_iter_shuffle_scope"
    ) == set()


def test_media_operators_share_one_driver():
    """Static guard: every multimodal operator runs through one
    ``mapInPandas`` call, and one module turns epoch nanos into
    timestamps."""
    import pathlib

    src = pathlib.Path(__file__).resolve().parent.parent.joinpath(
        "nyc_taxi_etl_spark", "operators", "multimodal.py"
    ).read_text()
    assert src.count(".mapInPandas(") == 1
    assert _modules_matching(r"DIV 1000") == {"functions/core.py"}


def test_cross_engine_conventions_written_once():
    """Static guard: the exact-cents money rule and the md5-prefix hash
    are each spelled once per language, in ``functions/core.py``. The
    one other ``conv(`` is winnow's Spark-SQL-text hash, kept inline in
    its ``F.expr`` lambda for speed."""
    core = {"functions/core.py"}
    assert _modules_matching(r"'0x' \|\|") == core
    assert _modules_matching(r"\* 100, 0\)") == core
    assert _modules_matching(r"\* 100\) AS BIGINT") == core
    assert _modules_matching(r"int\(\s*hashlib\.md5") == core
    assert _modules_matching(r"conv\(") == core | {"operators/winnow.py"}


# The driver's 50-entry window, pinned apart from plans.DRIVER_WINDOW so
# an edit to the tuple has to be made twice, on purpose.
_PINNED_WINDOW = (
    "events_time_profile",
    "top_suppliers_per_nation",
    "valid_lines_unit_price",
    "union_heterogeneous",
    "doc_profile",
    "exact_dedup_groups",
    "doc_decontamination",
    "dedup_components",
    "curate_documents",
    "kmeans_lineitem_profile",
    "isolation_outliers_by_flag",
    "media_image_features",
    "media_audio_features",
    "doc_pii_redaction",
    "user_count_cms",
    "part_entity_resolution",
    "part_name_linkage",
    "part_price_skyline",
    "customer_order_join_matview",
    "hybrid_retrieval_rrf",
    "order_line_fd_audit",
    "lineitem_column_profile",
    "ann_ivf_cosine",
    "ann_pq_cosine",
    "purchase_reach_hops",
    "streaming_cusum_drift",
    "customer_l_diversity_repair",
    "orders_status_cube",
    "adaptive_join_revenue",
    "customer_order_golden",
    "mw_quantity_shift",
    "doc_quality_classifier",
    "doc_lm_bigram_scores",
    "budget_selected_sources",
    "ngram_jaccard_near_pairs",
    "purchases_in_error_windows",
    "user_sessions",
    "stratified_order_sample",
    "adaptive_left_enrich",
    "phrase_search_trigram",
    "ks_quantity_shift",
    "nation_revenue_theilsen",
    "nation_revenue_mannkendall",
    "part_pair_lift",
    "source_token_jsd",
    "nation_revenue_acf",
    "purchase_graph_pagerank",
    "purchase_graph_hits",
    "near_dup_triangles",
    "ppjoin_near_pairs",
)
# sha256 over the newline-joined sorted names of CATALOG and ORACLES
_CATALOG_KEYS = (203, "51d5a7118b81a1d0d9213351c33a70406eb4d3aca0ccb4c1ae13155a8689981f")
_ORACLE_KEYS = (191, "3f8901ff4e9ff5170c3a95bebc8bea277096a6bda6b3b0c7d5e58f723b2e9c82")


def _keys(names) -> tuple[int, str]:
    import hashlib

    names = sorted(names)
    return len(names), hashlib.sha256("\n".join(names).encode()).hexdigest()


def test_driver_window_and_catalog_keys_are_pinned():
    """The driver sees the pinned window first, in order, and the
    catalog and oracle key sets are the pinned ones."""
    import __spark_entry__ as entry
    from nyc_taxi_etl_spark import plans

    assert plans.DRIVER_WINDOW == _PINNED_WINDOW
    assert tuple(plans.QUERIES) == _PINNED_WINDOW
    assert tuple(entry.queries())[:50] == _PINNED_WINDOW
    assert _keys(plans.CATALOG) == _keys(entry.queries()) == _CATALOG_KEYS
    assert _keys(plans.ORACLES) == _keys(entry.oracle_sql()) == _ORACLE_KEYS


def test_window_membership_is_declared_once():
    """Static guard: only plans/__init__.py names the derived split
    view, no entry registers with an ``extra=`` flag, and no
    promote/demote replay is left."""
    assert _modules_matching(r"QUERIES_EXTRA|ORACLE_EXTRA|\bextra=True") == {
        "plans/__init__.py"
    }
    assert _modules_matching(r"_PROMOTE_|_DEMOTE_") == set()


def test_pin_contract(spark):
    """``pin``: metrics equal a direct agg, the pin runs exactly ONE
    job (metrics ride it), the returned plan is a leaf scan, and
    nothing lands in the CacheManager."""
    from nyc_taxi_etl_spark.pins import pin

    df = spark.range(0, 1000, numPartitions=4).withColumn("v", F.col("id") % 7)
    metrics = {"n": F.count(F.lit(1)), "s": F.sum("v")}
    want = df.agg(*[c.alias(n) for n, c in metrics.items()]).first()
    sc = spark.sparkContext
    cm = spark._jsparkSession.sharedState().cacheManager()
    was_empty = cm.isEmpty()
    sc.setJobGroup("pin-contract", "pin contract")
    try:
        pinned, got = pin(df, **metrics)
        plain = pin(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("pin-contract")
    assert len(jobs) == 2, jobs  # one job per pin, none for the metrics
    assert (got["n"], got["s"]) == (want["n"], want["s"])
    for frame in (pinned, plain):
        plan = frame._jdf.queryExecution().optimizedPlan()
        assert plan.getClass().getSimpleName() == "LogicalRDD", plan.toString()
        assert sorted(frame.collect()) == sorted(df.collect())
    assert cm.isEmpty() or not was_empty


# ---------------------------------------------------------------- r9 task #8
def _plan_of(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _adaptive_fixtures(spark):
    from nyc_taxi_etl_spark.functions.skew import adaptive_join

    # 10k fact rows; 20% land on hot key 1, rest spread over 500 keys
    left = spark.range(10_000).select(
        F.when(F.col("id") % 5 == 0, F.lit(1))
        .otherwise(F.col("id") % 500)
        .cast("long")
        .alias("k"),
        F.col("id").alias("rid"),
    )
    right = spark.range(500).select(
        F.col("id").cast("long").alias("k2"),
        (F.col("id") % 7).alias("grp"),
    )
    plain = left.join(right, left["k"] == right["k2"]).groupBy("grp").count()
    return adaptive_join, left, right, plain


def test_adaptive_join_broadcast_path(spark):
    """Small dim + generous broadcast cap -> the measurement picks
    broadcast, the plan shows it, rows match the plain join."""
    adaptive_join, left, right, plain = _adaptive_fixtures(spark)
    joined, d = adaptive_join(left, "k", right, "k2", broadcast_max_ratio=0.5)
    assert d["strategy"] == "broadcast", d
    assert "BroadcastHashJoin" in _plan_of(joined)
    got = joined.groupBy("grp").count()
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_adaptive_join_salted_path(spark):
    """Dim 'too big' to broadcast (cap 0) + measured hot key -> salted:
    deterministic salt join on (key, salt), dim replicated per salt —
    and identical rows to the plain join."""
    adaptive_join, left, right, plain = _adaptive_fixtures(spark)
    joined, d = adaptive_join(
        left, "k", right, "k2",
        broadcast_max_ratio=0.0, skew_ratio_threshold=4.0,
        salt_seed_col="rid",
    )
    assert d["strategy"] == "salted", d
    # the measured skew: hot key holds 2000 of 10000 rows over 500 keys
    assert d["skew_ratio"] > 4.0
    plan = _plan_of(joined)
    assert "__salt" in plan  # the salt rides the join condition
    got = joined.groupBy("grp").count()
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_adaptive_join_plain_path(spark):
    """Uniform key + unbroadcastable dim -> plain shuffled join (no
    broadcast, no salt)."""
    adaptive_join, _, right, _ = _adaptive_fixtures(spark)
    uniform = spark.range(10_000).select(
        (F.col("id") % 500).cast("long").alias("k"),
        F.col("id").alias("rid"),
    )
    joined, d = adaptive_join(
        uniform, "k", right, "k2",
        broadcast_max_ratio=0.0, skew_ratio_threshold=4.0,
    )
    assert d["strategy"] == "plain", d
    # plain = NO forced strategy: no salt machinery in the plan.
    # Catalyst may still auto-broadcast a dim under its own threshold —
    # that's the point of 'plain': leave the optimizer in charge.
    assert "__salt" not in _plan_of(joined)


def test_adaptive_join_entry_plan_is_salted(spark):
    """The catalog entry's measured shape must pick SALTED (the oracle
    pins the same literal) and the salt must be visible in the plan."""
    from nyc_taxi_etl_spark.plans import CATALOG

    fn = CATALOG["adaptive_join_revenue"]
    df = fn(spark, "/root/testdata/sf0.001")
    assert "__salt" in _plan_of(df)
    assert df.select("strategy").distinct().collect()[0][0] == "salted"


def test_adaptive_join_default_seed_spreads_hot_key(spark):
    """r9 review: the default salt seed must VARY WITHIN a key (seeding
    from the join key itself would give every hot-key row the same
    salt — a no-op spread with 16x dim replication); seeding from the
    key is rejected outright."""
    from nyc_taxi_etl_spark.functions.skew import adaptive_join

    adaptive_join_, left, right, plain = _adaptive_fixtures(spark)
    joined, d = adaptive_join(
        left, "k", right, "k2",
        broadcast_max_ratio=0.0, skew_ratio_threshold=4.0,
    )  # no salt_seed_col: default seeds from all left columns
    assert d["strategy"] == "salted"
    got = joined.groupBy("grp").count()
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, plain.collect())
    )
    # the hot key's rows must land on >1 salt bucket
    salted = left.withColumn(
        "__salt",
        F.pmod(
            F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(16)
        ).cast("int"),
    )
    n_salts = (
        salted.filter(F.col("k") == 1)
        .select("__salt")
        .distinct()
        .count()
    )
    assert n_salts > 1, "default salt failed to spread the hot key"
    import pytest

    with pytest.raises(ValueError, match="salt_seed_col"):
        adaptive_join(left, "k", right, "k2", salt_seed_col="k")


def test_adaptive_join_broadcast_needs_absolute_cap(spark):
    """r9 review: the ratio gate alone would broadcast an arbitrarily
    large dim at scale — the absolute row cap must also pass."""
    adaptive_join, left, right, _ = _adaptive_fixtures(spark)
    joined, d = adaptive_join(
        left, "k", right, "k2",
        broadcast_max_ratio=0.5, broadcast_max_rows=10,
        skew_ratio_threshold=1e9,
    )
    assert d["strategy"] == "plain", d  # ratio passes, cap vetoes
    joined2, d2 = adaptive_join(
        left, "k", right, "k2",
        broadcast_max_ratio=0.5, broadcast_max_rows=1000,
    )
    assert d2["strategy"] == "broadcast", d2


def test_adaptive_join_validates_before_preflight(spark):
    """r9 ADVICE: argument validation must run BEFORE the two
    pre-flight aggregations — a misconfigured call fails in
    microseconds, not after two full scans. The left frame's key
    column raises on ANY evaluation, so if the pre-flight ran first
    we'd see a Spark execution error instead of the ValueError."""
    from nyc_taxi_etl_spark.functions.skew import adaptive_join

    boom = spark.range(10).select(
        F.raise_error(F.lit("pre-flight ran before validation"))
        .cast("long")
        .alias("k"),
        F.col("id").alias("rid"),
    )
    right = spark.range(5).select(F.col("id").alias("k2"))
    with pytest.raises(ValueError, match="salt_seed_col"):
        adaptive_join(boom, "k", right, "k2", salt_seed_col="k")
    with pytest.raises(ValueError, match="how must be"):
        adaptive_join(boom, "k", right, "k2", how="full")
    with pytest.raises(ValueError, match="salt_buckets"):
        adaptive_join(boom, "k", right, "k2", salt_buckets=1)
    with pytest.raises(ValueError, match="not in"):
        adaptive_join(boom, "k", right, "k2", salt_seed_col="missing")


def _left_fixtures(spark):
    """Fact rows over 500 keys (20% on hot key 1) where keys >= 250
    have NO dim row — the left-outer enrich shape."""
    from nyc_taxi_etl_spark.functions.skew import adaptive_join

    left = spark.range(10_000).select(
        F.when(F.col("id") % 5 == 0, F.lit(1))
        .otherwise(F.col("id") % 500)
        .cast("long")
        .alias("k"),
        F.col("id").alias("rid"),
    )
    right = spark.range(250).select(
        F.col("id").cast("long").alias("k2"),
        (F.col("id") % 7).alias("grp"),
    )
    plain = (
        left.join(right, left["k"] == right["k2"], "left")
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("rid").alias("srid"))
    )
    return adaptive_join, left, right, plain


@pytest.mark.parametrize(
    "kwargs, want",
    [
        (dict(broadcast_max_ratio=0.5), "broadcast"),
        (
            dict(
                broadcast_max_ratio=0.0,
                skew_ratio_threshold=4.0,
                salt_seed_col="rid",
            ),
            "salted",
        ),
        (
            dict(broadcast_max_ratio=0.0, skew_ratio_threshold=1e9),
            "plain",
        ),
    ],
)
def test_adaptive_left_join_strategy_invariance(spark, kwargs, want):
    """VERDICT r9 task #2: `how='left'` on every strategy. Unmatched
    left rows (keys >= 250, incl. the null-grp group) must survive
    exactly once on the salted path — each left row carries ONE salt
    and the dim holds one copy per salt."""
    adaptive_join, left, right, plain = _left_fixtures(spark)
    joined, d = adaptive_join(
        left, "k", right, "k2", how="left_outer", **kwargs
    )
    assert d["strategy"] == want, d
    got = joined.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"), F.sum("rid").alias("srid")
    )
    # None-keyed group (the unmatched rows) sorts via str
    assert sorted(map(tuple, got.collect()), key=str) == sorted(
        map(tuple, plain.collect()), key=str
    )
    # total row count = left count (every left row exactly once per
    # matched dim row; dim keys are unique, so |out| == |left|)
    assert joined.count() == 10_000


def test_salted_helpers_are_run_to_run_deterministic(spark):
    """VERDICT r9 task #4: salted_agg / salted_broadcast_join now use
    the deterministic content salt — the phase-1 partials and the
    physical row routing are identical across runs (rand() was
    correct but nondeterministic run-to-run)."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").limit(2000)
    a = salted_agg(
        li,
        ["l_returnflag"],
        {"n": ("count", F.count("*")), "q": ("sum", F.sum("l_quantity"))},
        salt_buckets=7,
    )
    b = salted_agg(
        li,
        ["l_returnflag"],
        {"n": ("count", F.count("*")), "q": ("sum", F.sum("l_quantity"))},
        salt_buckets=7,
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # the salt expression itself is reproducible: two materializations
    # of the phase-1 grain agree exactly
    from nyc_taxi_etl_spark.functions.skew import _content_salt

    s1 = li.withColumn(
        "__salt", _content_salt([F.col(c) for c in li.columns], 7)
    )
    c1 = sorted(map(tuple, s1.groupBy("__salt").count().collect()))
    c2 = sorted(map(tuple, s1.groupBy("__salt").count().collect()))
    assert c1 == c2
    assert len(c1) > 1  # the salt actually spreads
