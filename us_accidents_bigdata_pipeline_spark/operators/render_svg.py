"""Chart RENDERING without plotting libraries (SVG).

The reference ships 16 matplotlib/seaborn PNGs
(``BigDataPipeline/spark/generate_visualizations.py:35-265``). This
container has no matplotlib, and at engine scale the rendering input
must be a tiny aggregate anyway — so the scalable part lives in
``viz.py`` (distributed aggregation → small frame) and THIS module
completes the last mile: deterministic, dependency-free SVG documents
a browser renders directly. Charts covered mirror the reference's set:
bar (severity / top-N states / weather), line (hourly profile), and
scatter (geo + cluster coloring).

Everything here is driver-side presentation over frames that viz.py
already capped (≤ tens of thousands of rows); no Spark APIs are used,
which keeps the renderer unit-testable without a session.
"""

from __future__ import annotations

from typing import Sequence
from xml.sax.saxutils import escape

# 10-color qualitative palette (colorblind-safe Okabe-Ito extended)
PALETTE = [
    "#0072B2", "#E69F00", "#009E73", "#CC79A7", "#56B4E9",
    "#D55E00", "#F0E442", "#999999", "#332288", "#44AA99",
]

_W, _H = 640, 400
_ML, _MR, _MT, _MB = 70, 20, 40, 60  # margins: left/right/top/bottom


def _header(title: str) -> list[str]:
    return [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{_W}" height="{_H}" '
        f'viewBox="0 0 {_W} {_H}">',
        f'<rect width="{_W}" height="{_H}" fill="white"/>',
        f'<text x="{_W / 2}" y="24" text-anchor="middle" font-size="16" '
        f'font-family="sans-serif">{escape(title)}</text>',
    ]


def _axes(x0: float, y0: float, x1: float, y1: float) -> str:
    return (
        f'<path d="M {x0} {y1} L {x0} {y0} M {x0} {y0} L {x1} {y0}" '
        f'stroke="#333" fill="none" stroke-width="1"/>'
    )


def render_bar_svg(
    labels: Sequence[str], values: Sequence[float], title: str = ""
) -> str:
    """Vertical bar chart (the severity-distribution / top-N shape)."""
    if len(labels) != len(values):
        raise ValueError("labels and values must align")
    n = max(len(values), 1)
    vmax = max([v for v in values if v is not None] + [1e-12])
    plot_w, plot_h = _W - _ML - _MR, _H - _MT - _MB
    band = plot_w / n
    bar_w = band * 0.8
    parts = _header(title)
    parts.append(_axes(_ML, _MT, _W - _MR, _H - _MB))
    for i, (lbl, v) in enumerate(zip(labels, values)):
        h = 0.0 if v is None else max(float(v), 0.0) / vmax * plot_h
        x = _ML + i * band + (band - bar_w) / 2
        y = _H - _MB - h
        color = PALETTE[i % len(PALETTE)]
        parts.append(
            f'<rect class="bar" x="{x:.2f}" y="{y:.2f}" width="{bar_w:.2f}" '
            f'height="{h:.2f}" fill="{color}"/>'
        )
        parts.append(
            f'<text x="{x + bar_w / 2:.2f}" y="{_H - _MB + 16}" '
            f'text-anchor="middle" font-size="11" font-family="sans-serif">'
            f"{escape(str(lbl))}</text>"
        )
    parts.append(
        f'<text x="{_ML - 8}" y="{_MT + 12}" text-anchor="end" font-size="11" '
        f'font-family="sans-serif">{vmax:g}</text>'
    )
    parts.append("</svg>")
    return "\n".join(parts)


def render_line_svg(
    xs: Sequence[float], ys: Sequence[float], title: str = ""
) -> str:
    """Line chart (the hourly-profile shape); points joined in x order."""
    if len(xs) != len(ys):
        raise ValueError("xs and ys must align")
    pts = sorted(
        (float(x), float(y)) for x, y in zip(xs, ys) if x is not None and y is not None
    )
    parts = _header(title)
    parts.append(_axes(_ML, _MT, _W - _MR, _H - _MB))
    if pts:
        xmin, xmax = pts[0][0], pts[-1][0]
        ymax = max(y for _, y in pts) or 1e-12
        xspan = (xmax - xmin) or 1.0
        plot_w, plot_h = _W - _ML - _MR, _H - _MT - _MB

        def px(x: float) -> float:
            return _ML + (x - xmin) / xspan * plot_w

        def py(y: float) -> float:
            return _H - _MB - y / ymax * plot_h

        d = " ".join(
            f"{'M' if i == 0 else 'L'} {px(x):.2f} {py(y):.2f}"
            for i, (x, y) in enumerate(pts)
        )
        parts.append(
            f'<path class="line" d="{d}" stroke="{PALETTE[0]}" fill="none" '
            f'stroke-width="2"/>'
        )
    parts.append("</svg>")
    return "\n".join(parts)


def render_scatter_svg(
    xs: Sequence[float],
    ys: Sequence[float],
    groups: Sequence[object] | None = None,
    title: str = "",
) -> str:
    """Scatter (geo / cluster shape); optional per-point group coloring."""
    if len(xs) != len(ys) or (groups is not None and len(groups) != len(xs)):
        raise ValueError("xs, ys (and groups) must align")
    pts = [
        (float(x), float(y), None if groups is None else groups[i])
        for i, (x, y) in enumerate(zip(xs, ys))
        if x is not None and y is not None
    ]
    parts = _header(title)
    parts.append(_axes(_ML, _MT, _W - _MR, _H - _MB))
    if pts:
        xmin = min(p[0] for p in pts)
        xmax = max(p[0] for p in pts)
        ymin = min(p[1] for p in pts)
        ymax = max(p[1] for p in pts)
        xspan = (xmax - xmin) or 1.0
        yspan = (ymax - ymin) or 1.0
        plot_w, plot_h = _W - _ML - _MR, _H - _MT - _MB
        color_of = {g: PALETTE[i % len(PALETTE)] for i, g in enumerate(
            sorted({p[2] for p in pts}, key=str)
        )}
        for x, y, g in pts:
            cx = _ML + (x - xmin) / xspan * plot_w
            cy = _H - _MB - (y - ymin) / yspan * plot_h
            parts.append(
                f'<circle class="pt" cx="{cx:.2f}" cy="{cy:.2f}" '
                f'r="2.0" fill="{color_of[g]}" fill-opacity="0.7"/>'
            )
    parts.append("</svg>")
    return "\n".join(parts)


def render_heatmap_svg(
    row_labels: Sequence[object],
    col_labels: Sequence[object],
    values: Sequence[Sequence[float]],
    title: str = "",
) -> str:
    """Annotated matrix heatmap (the reference's confusion-matrix chart,
    BigDataPipeline/spark/generate_visualizations.py:35-49 sns.heatmap
    cmap='Blues') — linear white→blue ramp, one <rect> per cell, each
    with a centered value annotation in luminance-aware text color."""
    if len(values) != len(row_labels) or any(
        len(r) != len(col_labels) for r in values
    ):
        raise ValueError("values must be |rows| x |cols|")
    parts = _header(title)
    plot_w, plot_h = _W - _ML - _MR, _H - _MT - _MB
    n_r, n_c = len(row_labels), len(col_labels)
    cw, ch = plot_w / max(n_c, 1), plot_h / max(n_r, 1)
    vmax = max((float(v) for row in values for v in row), default=0.0) or 1.0
    for i, row in enumerate(values):
        for j, v in enumerate(row):
            frac = max(0.0, min(float(v) / vmax, 1.0))
            # white (255,255,255) -> steel blue (8,81,156)
            r = round(255 - frac * (255 - 8))
            g = round(255 - frac * (255 - 81))
            b = round(255 - frac * (255 - 156))
            x, y = _ML + j * cw, _MT + i * ch
            parts.append(
                f'<rect class="cell" x="{x:.2f}" y="{y:.2f}" '
                f'width="{cw:.2f}" height="{ch:.2f}" '
                f'fill="rgb({r},{g},{b})" stroke="#ccc" stroke-width="0.5"/>'
            )
            tcol = "#fff" if frac > 0.6 else "#222"
            parts.append(
                f'<text x="{x + cw / 2:.2f}" y="{y + ch / 2 + 4:.2f}" '
                f'text-anchor="middle" font-size="12" '
                f'font-family="sans-serif" fill="{tcol}">'
                f"{escape(str(round(float(v), 2)))}</text>"
            )
    for i, lab in enumerate(row_labels):
        parts.append(
            f'<text x="{_ML - 6}" y="{_MT + i * ch + ch / 2 + 4:.2f}" '
            f'text-anchor="end" font-size="11" font-family="sans-serif">'
            f"{escape(str(lab))}</text>"
        )
    for j, lab in enumerate(col_labels):
        parts.append(
            f'<text x="{_ML + j * cw + cw / 2:.2f}" y="{_H - _MB + 16}" '
            f'text-anchor="middle" font-size="11" font-family="sans-serif">'
            f"{escape(str(lab))}</text>"
        )
    parts.append("</svg>")
    return "\n".join(parts)
