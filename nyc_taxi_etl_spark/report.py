"""Dependency-free HTML/SVG report layer.

The reference ships matplotlib PNG/HTML dashboards next to its result
tables (``scripts/plot_analytics.py:10-23``,
``notebooks/advanced_visualizations.ipynb``); this module renders the
engine's *bounded aggregate outputs* into one self-contained HTML file
with inline SVG — no matplotlib/plotly in the container, none needed.

Design rules (fixed, not per-chart taste): one categorical hue per
series assigned in fixed slot order; single-series charts carry no
legend (the title names the series); thin bars with rounded data-ends
anchored to the baseline and a 2px surface gap; 2px lines; recessive
grid; values/labels always in text ink, never series color; every
chart is paired with its data table; per-mark native tooltips
(``<title>``) with full-height hit targets; light/dark via CSS custom
properties (dark values are selected steps, not an automatic flip).

Scale note: the ONLY driver-side collection here is of post-aggregation
frames whose row counts are bounded by construction (hours=24, dow=7,
months, top-k, buckets) — rendering never touches raw data. Guarded by
``MAX_ROWS``.
"""

from __future__ import annotations

import html
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

__all__ = ["svg_bar_chart", "svg_line_chart", "stat_tile", "build_report"]

MAX_ROWS = 5_000  # refuse to render unbounded frames

# Validated default palette (light, dark) per slot; surfaces + text ink.
_SERIES = [("#2a78d6", "#3987e5"), ("#eb6834", "#d95926"), ("#1baf7a", "#199e70")]

_CSS = """
:root { color-scheme: light dark; }
body { margin: 2rem auto; max-width: 1060px; font: 14px/1.45 system-ui, sans-serif;
  background: var(--surface-1); color: var(--text-primary);
  --surface-1: #fcfcfb; --text-primary: #0b0b0b; --text-secondary: #52514e;
  --grid: #e4e3df; --s1: #2a78d6; --s2: #eb6834; --s3: #1baf7a; }
@media (prefers-color-scheme: dark) {
  body { --surface-1: #1a1a19; --text-primary: #ffffff;
    --text-secondary: #c3c2b7; --grid: #3a3936;
    --s1: #3987e5; --s2: #d95926; --s3: #199e70; } }
h1 { font-size: 1.4rem; } h2 { font-size: 1.05rem; margin: 2.2rem 0 .4rem; }
p.note { color: var(--text-secondary); margin: .2rem 0 .8rem; }
svg text { fill: var(--text-secondary); font: 11px system-ui, sans-serif; }
svg .axis { stroke: var(--grid); stroke-width: 1; }
svg .grid { stroke: var(--grid); stroke-width: 1; stroke-dasharray: 2 3; }
svg .bar { fill: var(--s1); }
svg .hit { fill: transparent; } svg .hit:hover + .bar, svg g:hover .bar { opacity: .82; }
svg .line1 { stroke: var(--s1); } svg .line2 { stroke: var(--s2); }
svg .lbl { fill: var(--text-primary); font-weight: 600; }
table { border-collapse: collapse; margin: .6rem 0 1rem; }
th, td { padding: .18rem .6rem; border-bottom: 1px solid var(--grid);
  text-align: right; font-variant-numeric: tabular-nums; }
th { color: var(--text-secondary); font-weight: 600; }
td:first-child, th:first-child { text-align: left; }
details summary { cursor: pointer; color: var(--text-secondary); }
.tiles { display: flex; gap: 1rem; flex-wrap: wrap; }
.tile { border: 1px solid var(--grid); border-radius: 8px; padding: .8rem 1.2rem; }
.tile .v { font-size: 1.6rem; font-weight: 700; }
.tile .l { color: var(--text-secondary); }
.legend { display: flex; gap: 1.2rem; margin: .2rem 0 .4rem; }
.legend .sw { display: inline-block; width: 10px; height: 10px;
  border-radius: 2px; margin-right: .35rem; }
"""


def _fmt(v) -> str:
    if isinstance(v, float):
        return f"{v:,.2f}" if abs(v) >= 1 else f"{v:,.4f}"
    if isinstance(v, int):
        return f"{v:,}"
    return str(v)


def _esc(v) -> str:
    return html.escape(str(v))


def svg_bar_chart(
    pairs: Sequence[tuple[str, float]],
    title: str,
    width: int = 980,
    height: int = 240,
) -> str:
    """Single-series vertical bars: thin marks, 4px rounded data-end at
    the top, baseline-anchored, 2px surface gap, recessive dashed grid,
    direct labels on the extremes only, per-bar <title> tooltip with a
    full-height hit target."""
    if not pairs:
        return "<p class='note'>no rows</p>"
    pad_l, pad_b, pad_t = 48, 26, 14
    plot_w, plot_h = width - pad_l - 10, height - pad_b - pad_t
    ymax = max(max(v for _, v in pairs), 1e-12)
    n = len(pairs)
    step = plot_w / n
    bar_w = max(2.0, min(40.0, step - 2))  # 2px gap between fills
    vmax = max(v for _, v in pairs)
    vmin = min(v for _, v in pairs)
    out = [
        f"<svg role='img' aria-label='{_esc(title)}' viewBox='0 0 {width} {height}' "
        f"width='{width}' height='{height}'>"
    ]
    for frac in (0.5, 1.0):  # recessive grid: two lines are enough
        y = pad_t + plot_h * (1 - frac)
        out.append(
            f"<line class='grid' x1='{pad_l}' y1='{y:.1f}' "
            f"x2='{width - 10}' y2='{y:.1f}'/>"
        )
        out.append(
            f"<text x='{pad_l - 6}' y='{y + 4:.1f}' "
            f"text-anchor='end'>{_fmt(ymax * frac)}</text>"
        )
    out.append(
        f"<line class='axis' x1='{pad_l}' y1='{pad_t + plot_h}' "
        f"x2='{width - 10}' y2='{pad_t + plot_h}'/>"
    )
    label_every = max(1, n // 16)
    for i, (k, v) in enumerate(pairs):
        x = pad_l + i * step + (step - bar_w) / 2
        h = 0.0 if ymax == 0 else max(0.0, v) / ymax * plot_h
        y = pad_t + plot_h - h
        tip = f"{_esc(k)}: {_fmt(v)}"
        out.append("<g>")
        out.append(
            f"<rect class='bar' x='{x:.1f}' y='{y:.1f}' width='{bar_w:.1f}' "
            f"height='{h:.1f}' rx='4' ry='4'><title>{tip}</title></rect>"
        )
        # full-height invisible hit target (bigger than the mark)
        out.append(
            f"<rect class='hit' x='{pad_l + i * step:.1f}' y='{pad_t}' "
            f"width='{step:.1f}' height='{plot_h}'><title>{tip}</title></rect>"
        )
        out.append("</g>")
        if i % label_every == 0:
            out.append(
                f"<text x='{x + bar_w / 2:.1f}' y='{height - 8}' "
                f"text-anchor='middle'>{_esc(k)}</text>"
            )
        if v in (vmax, vmin) and n > 2:  # selective direct labels
            out.append(
                f"<text class='lbl' x='{x + bar_w / 2:.1f}' y='{y - 4:.1f}' "
                f"text-anchor='middle'>{_fmt(v)}</text>"
            )
    out.append("</svg>")
    return "".join(out)


def svg_line_chart(
    series: dict[str, Sequence[tuple[str, float]]],
    title: str,
    width: int = 980,
    height: int = 240,
) -> str:
    """Multi-series line chart (≤3 series — palette slots validated
    all-pairs): 2px lines, shared x domain, recessive grid, endpoint
    direct labels, per-point <title> markers."""
    series = {k: list(v) for k, v in series.items() if v}
    if not series or len(series) > len(_SERIES):
        return "<p class='note'>no rows (or too many series)</p>"
    pad_l, pad_b, pad_t = 56, 26, 14
    plot_w, plot_h = width - pad_l - 80, height - pad_b - pad_t
    xs = sorted({x for pts in series.values() for x, _ in pts})
    xi = {x: i for i, x in enumerate(xs)}
    ymax = max(max(v for _, v in pts) for pts in series.values())
    ymax = max(ymax, 1e-12)
    sx = plot_w / max(1, len(xs) - 1)
    out = [
        f"<svg role='img' aria-label='{_esc(title)}' viewBox='0 0 {width} {height}' "
        f"width='{width}' height='{height}'>"
    ]
    for frac in (0.5, 1.0):
        y = pad_t + plot_h * (1 - frac)
        out.append(
            f"<line class='grid' x1='{pad_l}' y1='{y:.1f}' "
            f"x2='{pad_l + plot_w}' y2='{y:.1f}'/>"
        )
        out.append(
            f"<text x='{pad_l - 6}' y='{y + 4:.1f}' "
            f"text-anchor='end'>{_fmt(ymax * frac)}</text>"
        )
    out.append(
        f"<line class='axis' x1='{pad_l}' y1='{pad_t + plot_h}' "
        f"x2='{pad_l + plot_w}' y2='{pad_t + plot_h}'/>"
    )
    for idx, x in enumerate(xs):
        if idx % max(1, len(xs) // 8) == 0:
            out.append(
                f"<text x='{pad_l + idx * sx:.1f}' y='{height - 8}' "
                f"text-anchor='middle'>{_esc(x)}</text>"
            )
    for si, (name, pts) in enumerate(series.items()):
        cls = f"line{si + 1}"
        coords = [
            (pad_l + xi[x] * sx, pad_t + plot_h * (1 - max(0.0, v) / ymax))
            for x, v in sorted(pts, key=lambda p: xi[p[0]])
        ]
        path = " ".join(
            f"{'M' if i == 0 else 'L'}{x:.1f},{y:.1f}" for i, (x, y) in enumerate(coords)
        )
        out.append(
            f"<path class='{cls}' d='{path}' fill='none' stroke-width='2'/>"
        )
        for (x, y), (xv, v) in zip(coords, sorted(pts, key=lambda p: xi[p[0]])):
            out.append(
                f"<circle class='{cls}' cx='{x:.1f}' cy='{y:.1f}' r='4' "
                f"fill='transparent' stroke='none' pointer-events='all'>"
                f"<title>{_esc(name)} · {_esc(xv)}: {_fmt(v)}</title></circle>"
            )
        ex, ey = coords[-1]
        out.append(
            f"<text class='lbl' x='{ex + 6:.1f}' y='{ey + 4:.1f}'>{_esc(name)}</text>"
        )
    out.append("</svg>")
    legend = "".join(
        f"<span><span class='sw' style='background:var(--s{i + 1})'></span>"
        f"{_esc(name)}</span>"
        for i, name in enumerate(series)
    )
    return f"<div class='legend'>{legend}</div>" + "".join(out)


def stat_tile(label: str, value) -> str:
    return (
        f"<div class='tile'><div class='v'>{_fmt(value)}</div>"
        f"<div class='l'>{_esc(label)}</div></div>"
    )


def _table(columns: Sequence[str], rows: Sequence[Sequence]) -> str:
    head = "".join(f"<th>{_esc(c)}</th>" for c in columns)
    body = "".join(
        "<tr>" + "".join(f"<td>{_esc(_fmt(v))}</td>" for v in r) + "</tr>"
        for r in rows
    )
    return (
        "<details><summary>data table</summary>"
        f"<table><thead><tr>{head}</tr></thead><tbody>{body}</tbody></table>"
        "</details>"
    )


def _collect(df: DataFrame) -> tuple[list[str], list[tuple]]:
    rows = df.limit(MAX_ROWS + 1).collect()
    if len(rows) > MAX_ROWS:
        raise ValueError(
            f"refusing to render an unbounded frame (> {MAX_ROWS} rows); "
            "the report layer consumes post-aggregation outputs only"
        )
    return list(df.columns), [tuple(r) for r in rows]


def build_report(
    spark: SparkSession, sf_dir: str, out_path: str, title: str = "Analytics report"
) -> str:
    """Render the dashboard the reference's plotting scripts produce —
    hourly/dow activity, monthly summary, top-k users, value histogram,
    segmentation, region revenue, daily two-series comparison, ETL
    audit — from the engine's catalog queries into ONE self-contained
    HTML file. Returns ``out_path``."""
    from .plans import CATALOG

    sections: list[str] = []

    def run(name: str) -> tuple[list[str], list[tuple]]:
        return _collect(CATALOG[name](spark, sf_dir))

    # ETL audit → stat tiles (a single headline number is not a chart)
    cols, rows = run("etl_filter_audit")
    tiles = "".join(
        stat_tile(c, v) for c, v in zip(cols, rows[0])
    )
    sections.append(f"<h2>ETL filter audit</h2><div class='tiles'>{tiles}</div>")

    # hour + dow grains from the fused profile
    cols, rows = run("events_time_profile")
    by = dict(zip(cols, zip(*rows)))
    hour_pairs = sorted(
        (int(h), c)
        for h, c in zip(by["event_hour"], by["event_count"])
        if h is not None
    )
    dow_pairs = sorted(
        (int(d), c) for d, c in zip(by["dow"], by["event_count"]) if d is not None
    )
    dows = ["Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun"]
    sections.append(
        "<h2>Events by hour</h2>"
        + svg_bar_chart([(str(h), v) for h, v in hour_pairs], "Events by hour")
        + _table(["hour", "events"], hour_pairs)
    )
    sections.append(
        "<h2>Events by day of week</h2>"
        + svg_bar_chart([(dows[d - 1], v) for d, v in dow_pairs], "Events by dow")
        + _table(["dow", "events"], [(dows[d - 1], v) for d, v in dow_pairs])
    )

    cols, rows = run("monthly_order_summary")
    rows = sorted(rows)
    mp = [(r[0], r[1]) for r in rows]
    sections.append(
        "<h2>Orders per month</h2>"
        + svg_bar_chart(mp, "Orders per month")
        + _table(cols, rows)
    )

    cols, rows = run("top_users_by_events")
    sections.append(
        "<h2>Top users by events</h2>"
        + svg_bar_chart([(str(r[0]), r[1]) for r in rows], "Top users")
        + _table(cols, rows)
    )

    cols, rows = run("value_histogram")
    rows = sorted(rows)
    sections.append(
        "<h2>Value distribution</h2>"
        + svg_bar_chart([(str(r[0]), r[1]) for r in rows], "Value histogram")
        + _table(cols, rows)
    )

    cols, rows = run("region_order_revenue")
    rows = sorted(rows, key=lambda r: -r[2])
    sections.append(
        "<h2>Revenue by region</h2>"
        + svg_bar_chart([(r[0], r[2]) for r in rows], "Revenue by region")
        + _table(cols, rows)
    )

    cols, rows = run("daily_purchase_vs_errors")
    rows = sorted(rows)
    day = [str(r[0]) for r in rows]
    sections.append(
        "<h2>Daily purchases vs errors</h2>"
        + svg_line_chart(
            {
                "purchases": list(zip(day, [r[1] for r in rows])),
                "errors": list(zip(day, [r[3] for r in rows])),
            },
            "Daily purchases vs errors",
        )
        + _table(cols, rows)
    )

    # product-analytics page
    cols, rows = run("event_funnel")
    rows = sorted(rows)
    sections.append(
        "<h2>Conversion funnel</h2>"
        + svg_bar_chart([(r[1], r[2]) for r in rows], "Funnel users")
        + _table(cols, rows)
    )

    cols, rows = run("weekly_cohort_retention")
    rows = sorted(rows)
    sections.append(
        "<h2>Weekly cohort retention</h2>" + _table(cols, rows)
    )

    cols, rows = run("daily_seasonality_decomposition")
    rows = sorted(rows)
    day = [r[0] for r in rows]
    sections.append(
        "<h2>Daily seasonality decomposition</h2>"
        + svg_line_chart(
            {
                "total": list(zip(day, [r[2] for r in rows])),
                "trend": [
                    (d, v)
                    for d, v in zip(day, [r[3] for r in rows])
                    if v is not None
                ],
            },
            "Total vs trend",
        )
        + _table(cols, rows[:10])
    )

    doc = (
        "<!doctype html><html><head><meta charset='utf-8'>"
        f"<title>{_esc(title)}</title><style>{_CSS}</style></head><body>"
        f"<h1>{_esc(title)}</h1>"
        f"<p class='note'>source: {_esc(sf_dir)} — generated by "
        "nyc_taxi_etl_spark.report (bounded aggregate outputs only)</p>"
        + "".join(sections)
        + "</body></html>"
    )
    with open(out_path, "w") as f:
        f.write(doc)
    return out_path
