"""Catalog-wide properties, run over EVERY registered query:

* empty-input robustness (SURVEY §7.3 'aggregation over no rows /
  empty files' — typed empty results, never a crash), against a
  zero-row mirror of the test tables in the driver's single-file
  layout;
* physical-plan hygiene — no cartesian products and no row-at-a-time
  Python UDFs anywhere in the catalog, with an explicit whitelist for
  the two deliberate broadcast nested-loop joins (1-row scalar
  broadcast in doc_top_terms; broadcast query side of the non-equi
  self-exclusion in knn_bruteforce_cosine).
"""

from __future__ import annotations

import contextlib
import io
import os

import pyarrow.parquet as pq
import pytest

from nyc_taxi_etl_spark.plans import CATALOG

from .conftest import SF_DIR, TABLES

_STREAMING = {n for n in CATALOG if n.startswith("streaming_")}
# global aggregates legitimately emit one (all-zero) row over no rows
_GLOBAL_AGG = {"etl_filter_audit", "gopher_rule_funnel",
               "lineitem_correlations",
               # 1-row global moment aggregates (r5): null/0 on empty
               "customer_revenue_gini", "purchase_click_value_ttest",
               # 1-row global AUC/KS evaluation (r6): null/0 on empty
               "classifier_lang_auc",
               # 1-row global TPC-H-shape aggregates (r7): null/0 on empty
               "promo_revenue_share", "small_quantity_avg_loss",
               "disjunctive_basket_revenue"}
# fixed-shape reports: one row per declared check/stage, zero-counted
# (an empty table vacuously passes every check / converts nobody)
_EMPTY_REPORTS = {"lineitem_quality_report": 8, "event_funnel": 3,
                  # one zero-counted row per profiled column
                  "lineitem_column_profile": 6,
                  # one vacuous-pass row per declared FD (r7)
                  "order_line_fd_audit": 5,
                  # one zero-counted row per profiled keyspace (r8)
                  "key_skew_profiles": 3,
                  # one zero-counted row per audited join (r8)
                  "join_size_audits": 3}
# media queries synthesize their blobs (no media table in testdata),
# and the Python-data-source entry GENERATES its corpus — input-
# independent by design, so 'empty input' doesn't apply to them
_SYNTHETIC = {n for n in CATALOG if n.startswith("media_")} | {
    "synth_corpus_lang_profile",
    # plants two fixture corrupt JSONL lines → emits the quarantine
    # bucket row even over an empty documents table (by design)
    "jsonl_roundtrip_source_counts",
}


@pytest.fixture(scope="module")
def empty_sf_dir(tmp_path_factory):
    """Zero-row mirror of every test table, preserving exact physical
    schemas (incl. events' TIMESTAMP(NANOS)) and the driver's
    one-file-per-table layout."""
    d = tmp_path_factory.mktemp("sf_empty")
    for t in TABLES:
        schema = pq.read_schema(os.path.join(SF_DIR, f"{t}.parquet"))
        pq.write_table(schema.empty_table(), str(d / f"{t}.parquet"))
    return str(d)


@pytest.mark.parametrize("name", sorted(set(CATALOG) - _SYNTHETIC))
def test_query_survives_empty_input(spark, empty_sf_dir, name):
    out = CATALOG[name](spark, empty_sf_dir)
    rows = out.limit(10).collect()
    if name in _GLOBAL_AGG:
        assert len(rows) == 1 and all(v in (0, None) for v in rows[0])
    elif name in _EMPTY_REPORTS:
        assert len(rows) == _EMPTY_REPORTS[name]
        for r in rows:
            d = r.asDict()
            for zero_col in ("n_rows", "n_violations", "users"):
                if zero_col in d:
                    assert d[zero_col] == 0, (name, r)
            if "passed" in d:
                assert d["passed"] == 1, (name, r)  # vacuous pass
    elif name not in _STREAMING:
        assert rows == []  # empty in → empty out
    assert len(out.schema.fields) > 0  # typed result, not a bare error


def test_key_skew_oracle_matches_on_empty_keyspace(spark, empty_sf_dir):
    """r9 ADVICE regression: the skew oracle's `sum(n)` over an empty
    group table is NULL while the Spark side coalesces n_rows to 0 —
    the divergence only surfaces on empty tables, which the catalog's
    empty-input gate exercised Spark-side only. Run BOTH sides on the
    zero-row mirror and value-compare."""
    import duckdb

    from nyc_taxi_etl_spark.plans.queries_stats import _SKEW_SQL

    from .compare import assert_frames_match
    from .conftest import _register

    con = duckdb.connect()
    _register(con, empty_sf_dir)
    duck_pdf = con.execute(_SKEW_SQL).df()
    spark_pdf = CATALOG["key_skew_profiles"](spark, empty_sf_dir).toPandas()
    assert len(spark_pdf) == 3
    assert list(spark_pdf["n_rows"]) == [0, 0, 0]
    assert_frames_match(spark_pdf, duck_pdf, "key_skew_profiles[empty]")


@pytest.mark.parametrize("name", sorted(set(CATALOG) - _STREAMING))
def test_catalog_plan_hygiene(spark, name):
    df = CATALOG[name](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan, name
    # row-at-a-time Python UDFs never appear; Arrow-batched plans
    # (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas) are the
    # only Python operators allowed
    assert "BatchEvalPython" not in plan, name
    # Whitelisted BroadcastNestedLoopJoins are all bounded build sides:
    # 1-row scalar aggregates (doc_top_terms N, lm corpus totals,
    # pack_sequences' min/max id probe, mixture_source_counts'
    # feasibility cap), the pigeonhole-bounded boilerplate shingle
    # list, and the broadcast query side of knn_bruteforce_cosine's
    # non-equi self-exclusion; ann_pq_cosine broadcasts the bounded
    # per-query ADC lookup-table frame (queries × m·k doubles).
    if name not in {
        "doc_top_terms",
        "knn_bruteforce_cosine",
        "doc_lm_scores",
        "doc_lm_bigram_scores",
        "doc_chunks_packed",
        "doc_boilerplate_removal",
        "mixture_source_counts",
        "ann_pq_cosine",
        "winsorized_event_values",  # 1-row p01/p99 bounds broadcast
        "bm25_scores",  # 1-row N/avgdl broadcast into scoring
        "lang_source_chisq",  # bounded marginal tables (langs×sources grid)
        "lineitem_quality_report",  # 1-row n × 1-row violation combine
        "lineitem_column_profile",  # 1-row high-ndv count broadcast
        "value_psi_drift",  # 1-row breakpoint array + 1-row totals
        "mad_outlier_days",  # 1-row median + 1-row MAD broadcasts
        "bigram_collocations",  # 1-row gram-total broadcast
        "part_basket_affinity",  # 1-row order-count broadcast
        "purchase_graph_pagerank",  # 1-row dangling-deficit broadcast/round
        "dsir_selected_docs",  # 1-row target/raw-mass totals broadcast
        "hard_negative_mining",  # bounded query-side broadcast, non-equi label filter
        "semantic_decontamination",  # bounded eval-suite broadcast (decontam contract)
        "daily_value_ewma",  # 1-row first-day (x1, u1) scalar broadcast
        "classifier_lang_auc",  # 1-row pos/neg totals broadcast (evalmetrics)
        "source_shingle_overlap_kmv",  # bounded per-source sketch grid,
        # non-equi source_a < source_b pairing (k-sized arrays)
        "temperature_mixture_counts",  # 1-row n_min scalar broadcast
        "idle_rich_customers",  # 1-row avg-balance threshold broadcast
        "important_parts_value",  # 1-row grand-total broadcast
        "top_revenue_supplier",  # 1-row scalar-max broadcast
        "hybrid_retrieval_rrf",  # 1-query-vector broadcast via
        # brute_force_knn's non-equi self-exclusion (same as
        # knn_bruteforce_cosine) + the 1-row N/avgdl BM25 broadcast
        # r8: the generalization ladder's chosen-level selection is a
        # 1-row (ok_lvl, max_lvl) scalar broadcast
        "customer_k_anonymity_repair",
        "customer_l_diversity_repair",
        "customer_k_anonymity_release",
        # r8: 1-row totals/p99/top-key scalar broadcasts per keyspace
        "key_skew_profiles",
        # r8: 1-row totals/top-3 scalar broadcasts per join audit
        "join_size_audits",
        # r10: 1-row group-totals broadcast into the CDF diff
        "ks_quantity_shift",
        # r10: 1-row distinct-order-count broadcast into lift
        "part_pair_lift",
        # r10: bounded per-source totals grid + 1-row corpus total
        "source_token_jsd",
    }:
        assert "BroadcastNestedLoopJoin" not in plan, name
