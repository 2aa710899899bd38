"""Regenerate CATALOG.md from the query registries.

Usage: python tools/gen_catalog_doc.py   (writes CATALOG.md at the
repository root)

The doc is derived — never edit it by hand; the registries and
docstrings are the source of truth. ``render()`` returns the text, so
tests/test_catalog_doc.py can fail when the committed file drifts.
"""

from __future__ import annotations

import inspect
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nyc_taxi_etl_spark.plans import (  # noqa: E402
    ORACLE,
    ORACLE_EXTRA,
    QUERIES,
    QUERIES_EXTRA,
)


def _summary(fn) -> str:
    doc = inspect.getdoc(fn) or ""
    first = doc.split("\n\n")[0].replace("\n", " ").strip()
    return first if len(first) <= 220 else first[:217] + "…"


def _module(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


CATALOG_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "CATALOG.md"
)


def render() -> str:
    """CATALOG.md's full text, from the registries and docstrings."""
    lines = [
        "# CATALOG — every registered query (generated by "
        "tools/gen_catalog_doc.py; do not edit)",
        "",
        f"{len(QUERIES)} driver-window entries + "
        f"{len(QUERIES_EXTRA)} overflow entries = "
        f"{len(QUERIES) + len(QUERIES_EXTRA)} total; "
        f"{len(ORACLE) + len(ORACLE_EXTRA)} carry full DuckDB oracles "
        "(the rest are rows-only by design — iterative/randomized/"
        "sequential semantics — each with targeted pytest invariants).",
        "",
        "**Round-6 window rotation** (VERDICT r5 task #3): the driver "
        "records correctness rows only for the first 50 entries; that "
        "window was static for five rounds while the overflow grew. Ten "
        "long-stable slots (bonus joins/set-ops/sessionization + "
        "family-redundant filter/agg IDs: customers_without_urgent_orders, "
        "priority_nation_filter, props_safe_cast, buyer_lifecycle_segments, "
        "monthly_seasonality_profile, orders_status_cube, user_sessions, "
        "purchases_in_error_windows, etl_filter_audit, doc_top_terms) "
        "moved to the overflow registry — still fully oracle-tested "
        "locally — and the ten highest-value overflow entries "
        "(dsir_selected_docs, user_count_cms, purchase_graph_hits, "
        "near_dup_triangles, orders_global_seq, customer_revenue_gini, "
        "winnow_near_pairs, semantic_dedup, fuzzy_near_pairs, bm25_scores) "
        "took their slots. Every SURVEY §2 family keeps ≥1 representative "
        "in the window (rotation implemented in plans/__init__.py).",
        "",
        "**Round-7 rotations**: streaming_ewma_anomalies (promoted to a "
        "full fold oracle), temperature_mixture_counts, four new TPC-H "
        "shapes (sole_blame_suppliers, nation_trade_flows, "
        "small_quantity_avg_loss, order_count_distribution), then "
        "part_entity_resolution + streaming_holt_trend swapped in for "
        "family-redundant slots (simhash/embedding/winnow pairs, "
        "near_dup_triangles, customer_revenue_gini, "
        "doc_boilerplate_removal, ngram_jaccard_near_pairs, "
        "mixture_source_counts) — all green in CORRECTNESS_r07.",
        "",
        "**Round-8 window rotation** (VERDICT r7 task #2): the ten "
        "round-7 marquee overflow operators that never had a driver row "
        "take the window — ppjoin_near_pairs, part_name_linkage, "
        "part_price_skyline, customer_order_join_matview, "
        "hybrid_retrieval_rrf, order_line_fd_audit, customer_k_anonymity, "
        "orders_benford_profile, lineitem_column_profile, "
        "orders_cdc_delete_totals — demoting long-stable green slots "
        "whose family keeps ≥1 in-window representative "
        "(fuzzy_near_pairs, semantic_dedup, bm25_scores, "
        "dsir_selected_docs, stratified_order_sample, "
        "orders_upsert_status_totals, and the four r7 TPC-H shapes "
        "green-stamped in CORRECTNESS_r07). Demoted entries remain fully "
        "oracle-tested in the local suite every round.",
        "",
        "**Round-9 window rotation** (VERDICT r8 task #3): the r8 "
        "overflow marquee takes the window — user_value_cusum, "
        "streaming_cusum_drift, customer_l_diversity_repair, "
        "customer_k_anonymity_release — plus the long-unwindowed family "
        "representatives the judge named (knn_bruteforce_cosine, "
        "bm25_scores, weighted_median_price, orders_status_cube), "
        "demoting multi-round-green family-redundant slots "
        "(orders_rollup, top_users_by_events, streaming_tumbling_counts, "
        "streaming_session_windows, purchase_graph_hits, "
        "orders_global_seq, training_split_counts, ann_lsh_cosine). The "
        "survivorship-rule columns ride the in-window "
        "part_entity_resolution entry. Demoted entries remain fully "
        "oracle-tested in the local suite every round. The r9 "
        "continuation rotation then promotes the two operators BUILT "
        "this round (adaptive_join_revenue, customer_order_golden) for "
        "two r1-era greens with in-window family siblings "
        "(daily_pct_of_baseline, extreme_days_zscore); a second "
        "continuation promotes the round's three late-built analytics "
        "operators (nation_revenue_trend, mw_quantity_shift, "
        "phrase_search_docs — each oracle-green sf0.001→sf10) for "
        "returnflag_summary, region_order_revenue, and "
        "minhash_lsh_near_pairs (families stay represented; all three "
        "demotions are eight-round greens).",
        "",
        "**Round-11 window rotation** (VERDICT r10 task #7): promote the "
        "four entries whose r10 optimization rewrites touched float-level "
        "numerics or join internals — purchase_graph_pagerank (algebraic "
        "dangling-deficit recovery, contribution-only rounds), "
        "purchase_graph_hits (round-level L2 normalization), "
        "near_dup_triangles (degree-broadcast orientation), "
        "ppjoin_near_pairs (shingle-only checkpoint) — so the driver "
        "hash-stamps the new formulations (none had a driver row since "
        "r8). Demotions are multi-round greens with in-window family "
        "siblings: simhash_near_pairs (ngram_jaccard_near_pairs + the "
        "promoted near-pair entries stay), user_value_cusum "
        "(streaming_cusum_drift stays), weighted_median_price "
        "(lineitem_column_profile + the agg window stay), "
        "customer_k_anonymity_release (customer_l_diversity_repair "
        "stays). Demoted entries remain fully oracle-tested locally.",
        "",
        "**Rows-only replay pins** (r9, VERDICT r8 task #7): the three "
        "non-media rows-only entries — bpe_merges, doc_bpe_token_stats, "
        "doc_compression_signal — are deterministic algorithms with no "
        "SQL oracle; tests/test_replay_pins.py pins each against a fixed "
        "fixture corpus in two physical layouts (single file vs 3-file "
        "dataset) plus hardcoded goldens (BPE merge order; zlib level-6 "
        "sizes), so all 12 rows-only entries now carry a replay "
        "guarantee, not just shape checks (media entries carry byte/PSNR "
        "pins; KMeans/IsolationForest carry seed-determinism and "
        "planted-structure pins).",
        "",
    ]
    for title, qs, orc in [
        ("Driver window (first 50, order matters)", QUERIES, ORACLE),
        ("Overflow registry", QUERIES_EXTRA, ORACLE_EXTRA),
    ]:
        lines += [f"## {title}", "", "| # | query | module | oracle | what |",
                  "|---|---|---|---|---|"]
        for i, (name, fn) in enumerate(qs.items()):
            lines.append(
                f"| {i} | `{name}` | {_module(fn)} | "
                f"{'full' if name in orc else 'rows-only'} | "
                f"{_summary(fn)} |"
            )
        lines.append("")
    return "\n".join(lines)


def main() -> None:
    with open(CATALOG_PATH, "w") as f:
        f.write(render())
    print(f"wrote {CATALOG_PATH}: {len(QUERIES) + len(QUERIES_EXTRA)} entries")


if __name__ == "__main__":
    main()
