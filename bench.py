"""Benchmark harness: runs the headline catalog queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Each query is fully materialized through the noop sink (forces every
operator, writes nothing, no driver collect). One warm session; first a
JVM warm-up pass on a trivial plan so session startup isn't billed to
the first query.

Statistical methodology (r4 — the r3 verdict showed best-of-2 in one
session cannot separate a real 20% regression from machine load):

* every query runs ``SPARK_GRAFT_BENCH_RUNS`` times (default 5); the
  per-query MINIMUM is reported in ``queries`` (round-comparable: min
  converges to the true plan cost as background load averages out) and
  the MEDIAN in ``queries_median`` (load-sensitivity signal: a large
  median/min gap on a query means its recorded number is noisy, not
  that the plan changed);
* a pre-flight idle gate waits (up to ``SPARK_GRAFT_BENCH_IDLE_WAIT``
  seconds, default 300 — the 1-minute load average needs ~3 min to
  decay from a full-core oracle gate on this 32-way box) for it to
  drop below 15% of the CPU count before any timed run — the r3
  artifact was taken minutes after an 8-minute full-load oracle gate
  and recorded a phantom 37% regression (a 25% gate then let an r5
  run start at load 7.2/32 and record phantom 40-90% regressions on
  untouched iterative queries);
* ``loadavg`` (1/5/15-min, captured after the gate) and ``preflight``
  (threshold + seconds waited) are recorded in the JSON so a reviewer
  can tell a loaded-machine artifact from a real regression without
  re-running;
* (r6 — the r5 verdict showed a start-of-run idle gate cannot see
  MID-RUN contention: an idle-start full run recorded 8.24 s against a
  true ~4.3 s because the per-query back-to-back loop lets one
  contended window poison all 5 runs of one query) the ``n`` runs per
  query are INTERLEAVED round-robin — pass k runs every query once —
  so a contended window degrades one pass of many queries (recovered
  by the per-query min over passes) instead of every run of one
  query; and a fixed CALIBRATION PROBE (the warm-up agg plan) is
  re-timed at the start of every pass, with its per-pass drift
  recorded in ``BENCH_DETAIL.json`` (``calibration``) so a reviewer
  can see exactly which passes were contended;
* (r9 — the r8 verdict showed the relative drift gate cannot see a run
  where EVERY pass is contended: BENCH_r08.json recorded a phantom
  +21% regression from an end-to-end loaded host) the run's minimum
  probe is compared against a COMMITTED idle-host reference
  (``BENCH_FLOOR.json``); above ``SPARK_GRAFT_BENCH_FLOOR_RATIO``
  (default 1.3) × the reference, bench re-waits for idle and takes
  fresh passes, and if still above, stamps ``"contended": true`` on
  the stdout line and detail file. Clean idle runs ratchet the
  reference down via ``SPARK_GRAFT_BENCH_WRITE_FLOOR=1``;
* (r11 — the r10 verdict showed the 1.3× hard gate admits MID-GRADE
  VM-neighbor contention: the r10 driver artifact was ~18% uniformly
  inflated with ``contended`` false and no probe on the stdout line)
  a run whose best probe exceeds ``SPARK_GRAFT_BENCH_DEGRADED_RATIO``
  (default 1.15) × the committed floor is stamped ``"degraded": true``
  — numbers usable, cross-round deltas should be discounted — and the
  compact stdout line now carries ``cpus``, ``master`` and
  ``min_probe_s`` so a reader can both verify the core-count contract
  and normalize comparisons without opening the detail file.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from nyc_taxi_etl_spark.plans import QUERIES, QUERIES_EXTRA  # noqa: E402
from nyc_taxi_etl_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "events_time_profile",
    "returnflag_summary",
    "orders_rollup",
    "region_order_revenue",
    "top_suppliers_per_nation",
    "valid_lines_unit_price",
    "daily_pct_of_baseline",
    "extreme_days_zscore",
    "quantity_segmentation",
    "value_histogram",
]

# Heaviest extension operators, benched by default so regressions in
# the dedup/temporal/CDC paths are visible round-over-round. Timed and
# reported alongside the headline queries but excluded from the
# headline total (`value`), which stays comparable across rounds.
EXTENSION = [
    "minhash_lsh_near_pairs",
    "dedup_components",
    "curate_documents",
    "purchase_asof_prior_error",
    "orders_upsert_status_totals",
    "doc_chunks_packed",
    "doc_lm_scores",
    "doc_boilerplate_removal",
    # overflow-registry ops (driver catalog caps at 50; benched anyway)
    "doc_lm_bigram_scores",
    "doc_quality_classifier",
    "semantic_dedup",
    "doc_passage_dedup",
    "doc_gopher_flags",
    "fuzzy_near_pairs",
    "purchase_graph_pagerank",
    "hourly_gapfilled_values",
    "bm25_scores",
    "distinct_users_hll_rollup",
    "streaming_purchase_error_pairs",
    "streaming_ewma_anomalies",
    "orders_matview_monthly_revenue",
    "lineitem_quality_report",
    "bigram_collocations",
    "customer_top_orders_lateral",
    # r4 additions: entries whose costs were invisible to the bench
    # until the sf0.1 gate exposed them (doc_repetition_removal hid an
    # O(n²) retokenization; ann_lsh_cosine a 10-scan union) — benched
    # so future regressions in these shapes surface round-over-round
    "doc_repetition_removal",
    "ann_lsh_cosine",
    # r5 additions
    "cross_source_near_dups",
    "hard_negative_mining",
    "streaming_dedup_counts",
    "dsir_selected_docs",
    "purchase_graph_hits",
    "near_dup_triangles",
    # r6 additions: entries promoted into the driver correctness window
    # by the r6 rotation that were not yet benched
    "orders_global_seq",
    "customer_revenue_gini",
    "winnow_near_pairs",
    "user_count_cms",
    # r6 additions (new operators this round)
    "streaming_purchase_error_left",
    "customer_priority_scd2",
    "orders_snapshot_diff",
    "incremental_near_dup_ingest",
    "ccnet_perplexity_buckets",
    "local_supplier_revenue",
    "shipping_priority_top10",
    "event_value_ddsketch",
    "orders_priority_point_in_time",
    # r7 additions: the structurally heaviest of the new TPC-H shapes
    # (6-table bidirectional flow, left-outer distribution, and the
    # three-level order-grain blame aggregation)
    "nation_trade_flows",
    "order_count_distribution",
    "sole_blame_suppliers",
    # r7: the lossless prefix-filtered set-similarity join — benched so
    # a regression in its postings truncation shows round-over-round
    "ppjoin_near_pairs",
    # r7: the two new blocking/frontier operators (sorted-neighborhood
    # banded equi-join; bucketed two-phase windowed skyline)
    "part_name_linkage",
    "part_price_skyline",
    "part_entity_resolution",
    # r7: five exact distinct-count aggs in one report
    "order_line_fd_audit",
    # r7: Holt level+trend stateful twin (bit-exact list_reduce oracle)
    "streaming_holt_trend",
    # r7: incremental join-view maintenance (3 interleaved append pairs)
    "customer_order_join_matview",
    # r7: sparse+dense RRF fusion (BM25 top-k + cosine top-k)
    "hybrid_retrieval_rrf",
    # r8: the two ANN paths newly promoted to full oracles (seeded
    # quantizers) and the k-anonymity generalization ladder — benched
    # so regressions in their candidate/report shapes surface
    "ann_ivf_cosine",
    "ann_pq_cosine",
    "customer_k_anonymity_repair",
    "customer_l_diversity_repair",
    "customer_k_anonymity_release",
    "user_value_cusum",
    "streaming_cusum_drift",
    "key_skew_profiles",
    "join_size_audits",
    "purchase_reach_hops",
    # r9: the skew toolkit's closed loop (measured pre-flight chooses
    # broadcast/salted/plain; this entry's shape picks salted) — benched
    # so the pre-flight + salted-join cost stays visible round-over-round
    "adaptive_join_revenue",
    # r9: the survivorship menu as a first-class entry (all six rules
    # over each customer's order history, one hash agg + one modal join)
    "customer_order_golden",
    # r9: grouped OLS from exact integer moments, the count-table
    # Mann-Whitney U, and positional phrase search (inverted-index
    # adjacency join) — benched so their agg/join shapes stay visible
    "nation_revenue_trend",
    "mw_quantity_shift",
    "phrase_search_docs",
    # r10: the adaptive join's left-outer enrich path (salted LEFT with
    # a third of the dim missing) and the k>2 chained-postings phrase
    # search — benched so both new join shapes stay visible
    "adaptive_left_enrich",
    "phrase_search_trigram",
    # r10 analytics additions: count-table KS test, Theil-Sen
    # median-of-pairwise-slopes, market-basket pair lift, per-source
    # Jensen-Shannon divergence — benched so the pair-join and
    # vocab-grid shapes stay visible round-over-round
    "ks_quantity_shift",
    "nation_revenue_theilsen",
    "part_pair_lift",
    "source_token_jsd",
    "nation_revenue_mannkendall",
    "nation_revenue_acf",
]

# Headline stays on the driver catalog; extension ops may live in the
# overflow registry.
ALL_QUERIES = {**QUERIES, **QUERIES_EXTRA}


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --------------------------------------------------------------------------
# Absolute probe floor (r9, VERDICT r8 task #1). The r8 drift gate is
# RELATIVE — each pass's probe is compared to that run's own minimum — so
# a run where EVERY pass is contended passes its own gate and records a
# bogus number (exactly what happened to BENCH_r08.json: loadavg 11.7,
# probe floor 0.174 s, recorded 4.131 s vs a true ~3.3 s). The fix is a
# committed idle-host reference (BENCH_FLOOR.json): when a run's MINIMUM
# probe exceeds FLOOR_RATIO × the reference, bench re-waits for idle and
# runs fresh passes; if the minimum probe is STILL above the threshold,
# the output is stamped ``"contended": true`` so no reader mistakes the
# number for a regression. A clean idle run ratchets the reference down
# (SPARK_GRAFT_BENCH_WRITE_FLOOR=1) so the floor tracks the true warm-JVM
# probe cost on this host rather than a hand-typed constant.

FLOOR_FILE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH_FLOOR.json"
)


def host_fingerprint() -> str:
    """Identify the host the floor was measured on: cpu count + arch +
    cpu model line. The r9 floor keyed on cpu count alone — a
    DIFFERENT host with the same count (or a JVM/kernel change that
    legitimately raises the idle probe) would stamp every run
    contended forever with no escape (r9 ADVICE). A model-line
    mismatch now just disables the absolute gate for that host, and
    ``SPARK_GRAFT_BENCH_RESET_FLOOR=1`` re-baselines explicitly."""
    import platform

    model = platform.processor() or ""
    try:
        with open("/proc/cpuinfo") as fh:
            # first matching discriminator line wins; 'model name' on
            # x86, 'CPU part'/'Hardware'/'model' on ARM/POWER — so the
            # fingerprint keeps a model component off-x86 too instead
            # of degrading to count+arch (review finding)
            keys = ("model name", "cpu part", "hardware", "model")
            best = len(keys)
            for line in fh:
                low = line.lower()
                for i, k in enumerate(keys):
                    if i < best and low.startswith(k):
                        model = line.split(":", 1)[1].strip()
                        best = i
                        break
                if best == 0:
                    break
    except OSError:
        pass
    return f"{os.cpu_count()}cpu/{platform.machine()}/{model}"


def _env_flag(name: str) -> bool:
    """True only for affirmative values — '0', 'false', 'no', '' all
    read as OFF (review finding: plain truthiness made
    SPARK_GRAFT_BENCH_RESET_FLOOR=0 ENABLE the destructive reset)."""
    return os.environ.get(name, "").strip().lower() not in (
        "", "0", "false", "no", "off",
    )


def load_probe_floor(path: str | None = None) -> dict | None:
    """Read the committed idle-host probe reference. Returns None when
    the file is missing/corrupt, was measured on a different host
    (fingerprint: cpu count + arch + model; legacy files carry only
    cpu count), or ``SPARK_GRAFT_BENCH_RESET_FLOOR=1`` requests a
    re-baseline — in all three cases the absolute gate is skipped and
    only the relative drift gate applies."""
    if _env_flag("SPARK_GRAFT_BENCH_RESET_FLOOR"):
        return None
    path = path or os.environ.get("SPARK_GRAFT_BENCH_FLOOR_FILE", FLOOR_FILE)
    try:
        with open(path) as fh:
            ref = json.load(fh)
    except (OSError, ValueError):
        return None
    if not isinstance(ref, dict) or "probe_floor_s" not in ref:
        return None
    fp = ref.get("host_fingerprint")
    if fp is not None:
        if fp != host_fingerprint():
            return None
    elif ref.get("host_cpus") not in (None, os.cpu_count()):
        return None
    try:
        float(ref["probe_floor_s"])
    except (TypeError, ValueError):
        return None
    return ref


def select_clean_passes(
    calibration: list[float],
    drift_gate: float,
    abs_threshold: float | None,
) -> list[int]:
    """Indices of passes usable for stats: within ``drift_gate`` × the
    run's own best probe (relative gate, r8) AND — when an idle-host
    reference exists — under the absolute threshold (r9)."""
    floor = min(calibration)
    return [
        i
        for i, c in enumerate(calibration)
        if c <= drift_gate * floor
        and (abs_threshold is None or c <= abs_threshold)
    ]


def write_probe_floor(
    observed_min: float, sf_val, path: str | None = None
) -> dict | None:
    """Ratchet the committed reference down to the best probe ever
    observed on this host (never up: a noisy run must not loosen the
    gate for future runs). REFUSES to write when the existing file was
    measured on a different host shape — a dev laptop's floor
    replacing the reference host's would silently disable the absolute
    gate everywhere (load_probe_floor ignores mismatched files), which
    is the exact failure mode this file exists to prevent. Returns
    None on refusal.

    ``SPARK_GRAFT_BENCH_RESET_FLOOR=1`` is the explicit re-baseline
    path (r9 ADVICE): it REPLACES the file with this run's observed
    minimum (no downward ratchet, no host refusal) — for when a
    JVM/kernel/host change legitimately moves the true idle probe and
    the old floor would stamp every future run contended."""
    path = path or os.environ.get("SPARK_GRAFT_BENCH_FLOOR_FILE", FLOOR_FILE)
    reset = _env_flag("SPARK_GRAFT_BENCH_RESET_FLOOR")
    best = observed_min
    if not reset:
        try:
            with open(path) as fh:
                raw = json.load(fh)
        except (OSError, ValueError):
            raw = None
        if isinstance(raw, dict):
            fp = raw.get("host_fingerprint")
            if fp is not None:
                if fp != host_fingerprint():
                    return None
            elif raw.get("host_cpus") not in (None, os.cpu_count()):
                return None
        prev = load_probe_floor(path)
        if prev is not None:
            best = min(best, float(prev["probe_floor_s"]))
    ref = {
        "probe_floor_s": round(best, 4),
        "host_cpus": os.cpu_count(),
        "host_fingerprint": host_fingerprint(),
        "sf": sf_val,
        "probe": "region groupBy count -> noop, warm session",
    }
    with open(path, "w") as fh:
        json.dump(ref, fh, indent=1)
    return ref


def wait_for_idle(max_wait_s: float, load_frac: float = 0.15) -> dict:
    """Block until the 1-minute load average drops below
    ``load_frac × n_cpus`` (or ``max_wait_s`` elapses). Returns the
    pre-flight record for the JSON output."""
    ncpu = os.cpu_count() or 1
    threshold = load_frac * ncpu
    waited = 0.0
    step = 10.0
    try:
        load1 = os.getloadavg()[0]
    except OSError:  # pragma: no cover - non-unix
        return {"threshold": threshold, "waited_s": 0.0, "supported": False}
    while load1 > threshold and waited < max_wait_s:
        time.sleep(step)
        waited += step
        load1 = os.getloadavg()[0]
    return {
        "threshold": round(threshold, 2),
        "waited_s": waited,
        "load1_at_start": round(load1, 2),
        "idle": load1 <= threshold,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    idle_wait = float(os.environ.get("SPARK_GRAFT_BENCH_IDLE_WAIT", "300"))
    preflight = wait_for_idle(idle_wait)
    spark = get_spark("bench")
    try:
        # JVM warm-up: codegen'd agg + vectorized parquet reader +
        # noop sink, so one-time JIT/classload isn't billed to q1
        spark.range(1000).selectExpr("sum(id)").collect()

        def probe() -> float:
            """Fixed trivial plan re-timed at every pass start; its
            drift vs the first pass is the mid-run contention signal."""
            t0 = time.perf_counter()
            warm = (
                spark.read.parquet(f"{sf_dir}/region.parquet")
                .groupBy("r_regionkey")
                .count()
            )
            warm.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        probe()  # warm-up (JIT + classload), untimed

        names = [n for n in HEADLINE if n in ALL_QUERIES]
        ext_names = [n for n in EXTENSION if n in ALL_QUERIES and n not in names]
        extra = os.environ.get("SPARK_GRAFT_BENCH_EXTRA")
        if extra:
            ext_names += [
                n
                for n in extra.split(",")
                if n in ALL_QUERIES and n not in names and n not in ext_names
            ]
        only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
        if only:
            keep = {n for n in only.split(",") if n in ALL_QUERIES}
            names = [n for n in names if n in keep]
            ext_names = [n for n in ext_names if n in keep]
            for n in sorted(keep):
                if n not in names and n not in ext_names:
                    ext_names.append(n)

        # Round-robin: pass k times each query once, calibration probe
        # first. One contended wall-clock window then inflates one pass
        # of many queries — the per-query min over passes discards it —
        # instead of concentrating on all runs of whichever query was
        # unlucky enough to be in flight.
        #
        # Drift gate (r8, VERDICT r7 task #5): the probe quantifies
        # each pass's start-of-pass contention; passes whose probe
        # exceeds DRIFT_GATE × the minimum probe are EXCLUDED from the
        # per-query stats and replaced by extra passes (up to
        # SPARK_GRAFT_BENCH_MAX_EXTRA, default n_runs), so the
        # reported numbers come from n_runs demonstrably-uncontended
        # passes instead of whatever mix the host offered — the r7
        # calibration showed 2.2-2.3× max/min probe drift that the
        # min-of-5 absorbed only mostly (judge re-run differed ~10%).
        # Exclusions and extra passes are recorded in the detail file.
        all_names = names + ext_names
        samples: dict[str, list[float]] = {n: [] for n in all_names}
        calibration: list[float] = []
        drift_gate = float(os.environ.get("SPARK_GRAFT_BENCH_DRIFT_GATE", "1.5"))
        max_extra = int(os.environ.get("SPARK_GRAFT_BENCH_MAX_EXTRA", str(n_runs)))
        floor_ratio = float(os.environ.get("SPARK_GRAFT_BENCH_FLOOR_RATIO", "1.3"))
        floor_ref = load_probe_floor()
        abs_threshold = (
            floor_ratio * float(floor_ref["probe_floor_s"])
            if floor_ref is not None
            else None
        )

        def run_pass() -> None:
            calibration.append(round(probe(), 4))
            for name in all_names:
                t0 = time.perf_counter()
                materialize(ALL_QUERIES[name](spark, sf_dir))
                samples[name].append(time.perf_counter() - t0)

        def clean_passes() -> list[int]:
            return select_clean_passes(calibration, drift_gate, abs_threshold)

        for _pass in range(n_runs):
            run_pass()
        # Absolute gate (r9): if even the BEST initial pass is above the
        # idle-host threshold, the whole run is host-contended — re-wait
        # for idle and take n_runs fresh passes IMMEDIATELY, before the
        # relative extra-pass loop: on a uniformly contended host that
        # loop would burn max_extra full catalog sweeps whose samples
        # the absolute gate then discards. (The relative drift gate
        # cannot see this case: a uniformly contended run is
        # self-consistent.)
        re_waited: dict | None = None
        if abs_threshold is not None and min(calibration) > abs_threshold:
            re_waited = wait_for_idle(idle_wait)
            for _pass in range(n_runs):
                run_pass()
        extra_passes = 0
        while len(clean_passes()) < n_runs and extra_passes < max_extra:
            # give up early when the host is still contended end-to-end:
            # more passes cannot produce clean samples, only waste time
            if abs_threshold is not None and min(calibration) > abs_threshold:
                break
            run_pass()
            extra_passes += 1
        clean = clean_passes()
        contended = (
            abs_threshold is not None and min(calibration) > abs_threshold
        )
        # Second contention tier (r11, VERDICT r10 task #3): the 1.3×
        # floor ratio passes mid-grade VM-neighbor contention — the r10
        # driver artifact was ~18% uniformly inflated with contended
        # stamped false. A run whose best probe sits between
        # DEGRADED_RATIO × floor and the hard threshold is stamped
        # "degraded": numbers are usable but a cross-round comparison
        # should discount the window (normalize by min_probe_s, now on
        # the compact line).
        degraded_ratio = float(
            os.environ.get("SPARK_GRAFT_BENCH_DEGRADED_RATIO", "1.15")
        )
        floor_s = (
            float(floor_ref["probe_floor_s"]) if floor_ref is not None else None
        )
        degraded = (
            not contended
            and floor_s is not None
            and min(calibration) > degraded_ratio * floor_s
        )
        if len(clean) < 2:  # pathological host: keep everything
            clean = list(range(len(calibration)))
        excluded = [i for i in range(len(calibration)) if i not in clean]
        timings = {
            n: round(min(d[i] for i in clean), 3) for n, d in samples.items()
        }
        medians = {
            n: round(statistics.median([d[i] for i in clean]), 3)
            for n, d in samples.items()
        }
        total = round(sum(timings[n] for n in names), 3)
        median_total = round(sum(medians[n] for n in names), 3)
        extension_total = round(sum(timings[n] for n in ext_names), 3)

        sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
        try:
            sf_val: float | str = float(sf)
        except ValueError:
            sf_val = sf
        # Full record (median-per-query, preflight, loadavg, method
        # notes) goes to BENCH_DETAIL.json next to this script. The
        # stdout line is kept COMPACT and bounded: the driver that
        # records BENCH_r{N}.json parses the tail of the process
        # output, and the r4 line (min+median per query) outgrew its
        # buffer — the record landed with parsed=null. Methodology:
        # per-query timing = MIN of `runs` back-to-back
        # materializations in ONE warm session (median in the detail
        # file as the load-noise signal); cold=false because a
        # JVM/codegen warm-up pass runs before any timed query
        # (r1 = single cold run; r2-r3 = best-of-2; r4+ = this).
        detail = {
            "metric": "headline_catalog_total",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf_val,
            "extension_total": extension_total,
            "median_total": median_total,
            "queries_median": medians,
            "runs": n_runs,
            "stat": "min (median in queries_median)",
            "schedule": "round-robin passes (r6): pass k runs every "
            "query once; per-query stats are over passes",
            "calibration": {
                "probe": "region groupBy count -> noop, timed at each "
                "pass start",
                "per_pass_s": calibration,
                "drift_max_over_min": round(
                    max(calibration) / max(min(calibration), 1e-9), 2
                ),
                "drift_gate": drift_gate,
                "excluded_passes": excluded,
                "extra_passes": extra_passes,
                "stat_passes": clean,
            },
            "probe_floor": {
                "reference_s": (
                    float(floor_ref["probe_floor_s"])
                    if floor_ref is not None
                    else None
                ),
                "ratio": floor_ratio,
                "abs_threshold_s": (
                    round(abs_threshold, 4) if abs_threshold is not None else None
                ),
                "min_probe_s": round(min(calibration), 4),
                "degraded_ratio": degraded_ratio,
                "degraded": degraded,
                "re_waited": re_waited,
                "contended": contended,
            },
            "contended": contended,
            "degraded": degraded,
            # Scaling contract (r11, VERDICT r10 task #2): the headline
            # set is fixed-overhead-bound at sf0.1 (0.15-0.7 s/query), so
            # its low/high-core ratio measures scheduling, not plans.
            # These entries (all benched above) carry the most per-row
            # compute; measured 8→32-core ratios at sf0.1 (r11):
            # fuzzy_near_pairs 1.68×, ppjoin_near_pairs 1.17× — real
            # parallel work; semantic_dedup and curate_documents sit at
            # ~1.0× because their cost is sequential checkpoint jobs, the
            # scheduling floor that core count cannot shrink at this SF.
            # Compare these across the driver's two core-count runs.
            "scaling_subset": [
                "fuzzy_near_pairs",
                "ppjoin_near_pairs",
                "semantic_dedup",
                "curate_documents",
            ],
            # tmpfs availability decides the streaming/matview scratch
            # root (nyc_taxi_etl_spark/sources/scratch.py): bench deltas
            # across hosts partly measure this (r10 what's-wrong #5)
            "scratch_root": (
                "/dev/shm" if os.path.isdir("/dev/shm") else "default-tmp"
            ),
            "cold": False,
            "warmup": "1 trivial noop-materialized plan",
            "loadavg": [round(x, 2) for x in os.getloadavg()],
            "host_cpus": os.cpu_count(),
            "preflight": preflight,
        }
        detail_path = os.environ.get(
            "SPARK_GRAFT_BENCH_DETAIL_FILE",
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
            ),
        )
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1)
        # Ratchet the committed idle-host reference down when this run
        # was demonstrably clean (opt-in so CI/driver runs never touch
        # the committed file).
        if (
            _env_flag("SPARK_GRAFT_BENCH_WRITE_FLOOR")
            or _env_flag("SPARK_GRAFT_BENCH_RESET_FLOOR")
        ) and not contended:
            write_probe_floor(min(calibration), sf_val)
        compact = {
            "metric": "headline_catalog_total",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf_val,
            "extension_total": extension_total,
            "runs": n_runs,
            "stat": "min",
            # Scaling/contention legibility (r11, VERDICT r10 tasks #2/#3):
            # cpus (the session's defaultParallelism, what it really
            # runs at) + master prove $SPARK_GRAFT_CPUS was honored;
            # min_probe_s lets a reader normalize cross-round comparisons
            # for host-window speed (the r10 driver artifact was ~18%
            # uniformly inflated with no way to tell from this line).
            "cpus": spark.sparkContext.defaultParallelism,
            "master": spark.sparkContext.master,
            "min_probe_s": round(min(calibration), 4),
            "detail": "BENCH_DETAIL.json",
        }
        if contended:
            # The one flag a reader must not miss: every pass of this
            # run exceeded the idle-host probe threshold, so the numbers
            # above measure the host, not the plans.
            compact["contended"] = True
        elif degraded:
            # Softer tier: best probe above DEGRADED_RATIO × the idle
            # floor — usable numbers, but discount cross-round deltas
            # (normalize by min_probe_s against the committed floor).
            compact["degraded"] = True
        line = json.dumps(compact, separators=(",", ":"))
        if len(line) > 1600:
            # keep the line parseable by a bounded tail buffer: inline
            # only the headline per-query times; extension times stay
            # in BENCH_DETAIL.json (never silently dropped)
            compact["queries"] = {n: timings[n] for n in names}
            compact["ext_queries"] = "see detail file"
            line = json.dumps(compact, separators=(",", ":"))
        if len(line) > 1600:
            # still over (many headline queries): drop per-query
            # timings entirely — totals + detail pointer always fit
            compact["queries"] = "see detail file"
            line = json.dumps(compact, separators=(",", ":"))
        print(line)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
