from .queries import CATALOG, ORACLES
from . import queries_text  # noqa: F401  (registers text/dedup/similarity queries)
from . import queries_ml  # noqa: F401  (registers KMeans/IsolationForest queries)
from . import queries_streaming  # noqa: F401  (registers Structured Streaming queries)
from . import queries_misc  # noqa: F401  (registers sampling/set-op/cube/audit queries)
from . import queries_temporal  # noqa: F401  (registers as-of join / sessionization queries)
from . import queries_training  # noqa: F401  (registers chunk/pack, PII, LM, boilerplate, split queries)
from . import queries_rules  # noqa: F401  (registers Gopher/C4 rule-filter queries)
from . import queries_passages  # noqa: F401  (registers duplicate-passage dedup)
from . import queries_timeseries  # noqa: F401  (registers gap-fill/pivot/cadence queries)
from . import queries_sketches  # noqa: F401  (registers mergeable-HLL distinct rollups)
from . import queries_graph  # noqa: F401  (registers PageRank)
from . import queries_web  # noqa: F401  (registers URL/domain curation + BM25)
from . import queries_quality  # noqa: F401  (registers expectation-suite report)
from . import queries_stats  # noqa: F401  (registers corr/chi-square/rolling-window)
from . import queries_events  # noqa: F401  (registers funnel/cohort/transition analytics)
from . import queries_sql  # noqa: F401  (registers recursive-CTE / lateral SQL entries)
from . import queries_seasonal  # noqa: F401  (registers decomposition/MAD/collocations)
from . import queries_pysource  # noqa: F401  (registers Python Data Source API entries)
from . import queries_tpch  # noqa: F401  (registers the remaining TPC-H query shapes)
from . import queries_linkage  # noqa: F401  (registers sorted-neighborhood linkage + skyline)
from . import queries_basket  # noqa: F401  (registers market-basket association rules)

# The driver's CORRECTNESS snapshot records only the first 50 entries of
# the catalog; this tuple is that window, in order. Whoever swaps an
# entry keeps every SURVEY.md §2 family represented here. Entries outside
# the window are oracle-tested locally all the same (tests/test_oracle.py).
DRIVER_WINDOW = (
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

_unregistered = [n for n in DRIVER_WINDOW if n not in CATALOG]
if len(set(DRIVER_WINDOW)) != 50 or _unregistered:
    raise RuntimeError(
        f"DRIVER_WINDOW must name 50 distinct registered entries: "
        f"{len(set(DRIVER_WINDOW))} distinct, unregistered {_unregistered}"
    )
# Window entries first, in window order; the rest in registration order.
_ordered = {n: CATALOG[n] for n in DRIVER_WINDOW}
_ordered.update(CATALOG)
CATALOG.clear()
CATALOG.update(_ordered)

# The window/overflow split as a derived view. Only perfbench/ reads it
# (selftest.py, workloads.py); everything else uses CATALOG and ORACLES.
QUERIES = {n: CATALOG[n] for n in DRIVER_WINDOW}
QUERIES_EXTRA = {n: fn for n, fn in CATALOG.items() if n not in QUERIES}
ORACLE = {n: ORACLES[n] for n in DRIVER_WINDOW if n in ORACLES}
ORACLE_EXTRA = {n: sql for n, sql in ORACLES.items() if n not in ORACLE}
