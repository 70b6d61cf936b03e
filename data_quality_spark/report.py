"""Session reporting: merged KO-row export + self-contained HTML summary.

Reference surface replaced here:
  * ``DataQualitySession.create_export_details_excel``
    (/root/reference/data_quality/data_quality_holder.py:76-85) — one sheet
    of merged KO rows per table. Excel when openpyxl is importable, CSV
    fallback otherwise (this container ships no openpyxl).
  * ``DataQualitySession.create_html_output`` → ``plot_session_results``
    (/root/reference/data_quality/src/plot.py:117-374) — Bokeh gauges +
    per-check rows + collapsible sample tables. Re-rendered as a dependency-
    free static HTML page off the same metrics: % KO gauge per table,
    per-check table sorted by n_ko (plot.py:241-242), capped sample rows.

Both read what ``QualityTable.run(get_rows_flag=True)`` kept, and run no
Spark job: each check's counts and capped sample (``check_list``) and the
table's merged KO rows (``merged_ko_rows``: the samples' rows, one per
source row, with fired_descriptions merged by " - " — the reference's
union + groupby-merge ``_create_ko_rows``, table.py:191-232). A table run
without samples is sampled once, in one plan, on first use. One cap,
``n_max_rows_output``, sets the rows of the samples, the HTML and the export.
"""

from __future__ import annotations

import html as html_mod
import os


def export_details(session, path: str) -> str:
    """Merged failing rows per table → one .xlsx (sheet per table) when
    openpyxl exists, else a directory of CSVs. Returns the written path."""
    tables = [t for t in session.tables if t.check_list]
    try:
        import openpyxl  # noqa: F401

        import pandas as pd

        out = path if path.endswith(".xlsx") else path + ".xlsx"
        with pd.ExcelWriter(out, engine="openpyxl") as xw:
            for t in tables:
                t.merged_ko_rows().to_excel(
                    xw, sheet_name=str(t.name)[:31], index=False
                )
        return out
    except ImportError:
        os.makedirs(path, exist_ok=True)
        for t in tables:
            t.merged_ko_rows().to_csv(
                os.path.join(path, f"{t.name}_ko_rows.csv"), index=False
            )
        return path


def _svg_gauge(pct: float, label: str = "rows KO", prefix: str = "") -> str:
    """SVG donut gauge (reference: Bokeh annular-wedge gauge,
    plot.py:18-79) — green <1%, amber <5%, red otherwise. `prefix` carries
    the reference's over-cap estimation markers ('>' / '≈',
    plot.py:184-196): when a check's KO sample hit its row cap the exact
    unique-KO-row count is a bound, not a measurement."""
    import math

    color = "#2e7d32" if pct < 1 else "#f9a825" if pct < 5 else "#c62828"
    # cap just below a full turn: an SVG arc whose endpoints coincide is not
    # rendered at all, so pct=100 would paint an EMPTY ring
    frac = min(pct, 99.99) / 100.0
    r, cx, cy = 42, 55, 55
    ang = 2 * math.pi * frac - math.pi / 2
    x, y = cx + r * math.cos(ang), cy + r * math.sin(ang)
    big = 1 if frac > 0.5 else 0
    arc = (
        f'<path d="M {cx} {cy - r} A {r} {r} 0 {big} 1 {x:.2f} {y:.2f}" '
        f'fill="none" stroke="{color}" stroke-width="11" stroke-linecap="round"/>'
        if frac > 0.001
        else ""
    )
    return (
        f'<svg width="110" height="110" class="gauge">'
        f'<circle cx="{cx}" cy="{cy}" r="{r}" fill="none" stroke="#eee" stroke-width="11"/>'
        f"{arc}"
        f'<text x="{cx}" y="{cy}" text-anchor="middle" dy="-2" font-size="17" '
        f'font-weight="bold" fill="{color}">{html_mod.escape(prefix)}{pct:.1f}%</text>'
        f'<text x="{cx}" y="{cy}" text-anchor="middle" dy="15" font-size="9" '
        f'fill="#666">{html_mod.escape(label)}</text></svg>'
    )


_CSS = """
body{font-family:system-ui,sans-serif;margin:0;background:#fafafa;color:#222}
header{background:#263238;color:#fff;padding:14px 24px}header h1{margin:0;font-size:20px}
.tabbar{display:flex;gap:2px;background:#37474f;padding:0 16px}
.tabbar button{background:none;border:none;color:#cfd8dc;padding:10px 18px;cursor:pointer;
  font-size:14px;border-bottom:3px solid transparent}
.tabbar button.active{color:#fff;border-bottom-color:#4fc3f7;font-weight:600}
.tab{display:none;padding:20px 24px}.tab.active{display:block}
.cards{display:flex;gap:18px;align-items:center;flex-wrap:wrap;margin-bottom:14px}
.card{background:#fff;border:1px solid #e0e0e0;border-radius:8px;padding:12px 18px;
  box-shadow:0 1px 2px rgba(0,0,0,.05)}
.kpi{font-size:26px;font-weight:700}.kpi small{font-size:12px;color:#777;font-weight:400;display:block}
table.checks{border-collapse:collapse;background:#fff;width:100%}
table.checks td,table.checks th{border:1px solid #e0e0e0;padding:6px 10px;font-size:13px;text-align:left}
table.checks th{background:#eceff1;cursor:pointer;user-select:none}
table.checks th:after{content:' \\2195';color:#90a4ae;font-size:11px}
.status-ok{color:#2e7d32;font-weight:600}.status-warn{color:#f9a825;font-weight:600}
.status-ko{color:#c62828;font-weight:600}
button.tgl{background:#eceff1;border:1px solid #b0bec5;border-radius:4px;
  padding:2px 10px;cursor:pointer;font-size:12px}
tr.sample{display:none}tr.sample.open{display:table-row}
tr.sample>td{background:#fbfbfb;padding:10px}
tr.sample table{border-collapse:collapse}
tr.sample td,tr.sample th{border:1px solid #e8e8e8;padding:3px 8px;font-size:12px}
"""

_JS = """
function showTab(i){
  document.querySelectorAll('.tab').forEach((t,j)=>t.classList.toggle('active',i===j));
  document.querySelectorAll('.tabbar button').forEach((b,j)=>b.classList.toggle('active',i===j));
}
function tglSample(id,btn){
  const row=document.getElementById(id);const open=row.classList.toggle('open');
  btn.textContent=open?'hide rows':'show rows';
}
function sortBy(th){
  const table=th.closest('table');const idx=[...th.parentNode.children].indexOf(th);
  const dir=th.dataset.dir==='asc'?-1:1;th.dataset.dir=dir===1?'asc':'desc';
  const body=table.tBodies[0];
  const groups=[];let cur=null;
  [...body.rows].forEach(r=>{if(r.classList.contains('sample')){if(cur)cur.push(r);}
    else{cur=[r];groups.push(cur);}});
  groups.sort((a,b)=>{const x=a[0].cells[idx].dataset.v??a[0].cells[idx].textContent,
    y=b[0].cells[idx].dataset.v??b[0].cells[idx].textContent;
    const nx=parseFloat(x),ny=parseFloat(y);
    if(!isNaN(nx)&&!isNaN(ny))return dir*(nx-ny);
    return dir*String(x).localeCompare(String(y));});
  groups.flat().forEach(r=>body.appendChild(r));
}
"""


def create_html_output(session, path: str) -> str:
    """Interactive single-file HTML report: one tab per table plus an
    overview, SVG donut gauges, a sortable per-check table, and per-check
    toggleable failing-row samples — the reference's Bokeh
    Tabs/gauges/Toggle+DataTable surface (plot.py:117-374) re-rendered
    dependency-free (vanilla JS/CSS inline, no CDN, works offline)."""
    tables = [t for t in session.tables if t.check_list]
    tab_names = ["overview"] + [str(t.name) for t in tables]
    parts = [
        "<!doctype html><meta charset='utf-8'><title>data quality report</title>",
        f"<style>{_CSS}</style><script>{_JS}</script>",
        "<header><h1>Data quality report</h1></header>",
        "<nav class='tabbar'>"
        + "".join(
            f"<button{' class=active' if i == 0 else ''} "
            f"onclick='showTab({i})'>{html_mod.escape(n)}</button>"
            for i, n in enumerate(tab_names)
        )
        + "</nav>",
    ]

    # overview tab: session rollup (reference session summary page)
    rows = []
    stats = []
    for t in tables:
        info = t.calculate_result_info()
        n_rows = max((c.n_rows for c in t.check_list), default=0)
        stats.append((t, info, n_rows))
        status = (
            "ko" if info["n_ko_checks"] else "warn" if info["n_warning_checks"] else "ok"
        )
        rows.append(
            f"<tr><td>{html_mod.escape(str(t.name))}</td>"
            f"<td>{info['n_checks']}</td><td>{info['n_ko_checks']}</td>"
            f"<td>{info['n_warning_checks']}</td><td>{info['total_n_ko']}</td>"
            f"<td class='status-{status}'>{status.upper()}</td></tr>"
        )
    parts.append(
        "<div class='tab active'><div class='cards'>"
        f"<div class='card kpi'>{len(tables)}<small>tables checked</small></div>"
        f"<div class='card kpi'>{sum(i['n_checks'] for _, i, _ in stats)}"
        "<small>checks run</small></div>"
        f"<div class='card kpi'>{sum(i['n_ko_checks'] for _, i, _ in stats)}"
        "<small>failing checks</small></div>"
        f"<div class='card kpi'>{sum(i['total_n_ko'] for _, i, _ in stats)}"
        "<small>total KO rows</small></div></div>"
        "<table class='checks'><thead><tr>"
        + "".join(
            f"<th onclick='sortBy(this)'>{h}</th>"
            for h in ["table", "checks", "failing", "warnings", "total KO", "status"]
        )
        + "</tr></thead><tbody>"
        + "".join(rows)
        + "</tbody></table></div>"
    )

    # one tab per table: counts from check_list, rows from the samples
    for ti, (t, info, n_rows) in enumerate(stats):
        merged = t.merged_ko_rows()
        # over-cap estimation (reference plot.py:184-196): when any check's
        # KO sample hit its row cap, the reference can only BOUND the
        # unique-KO-row count — [max single-check n_ko, min(Σ n_ko, n_rows)]
        # — and prefixes the gauge with '>' when the bound is loose (range >
        # 1% of rows), '≈' otherwise. Under every cap, every KO row was
        # sampled, so the merged rows count them exactly.
        if any(c.flag_over_max_rows for c in t.check_list):
            min_n = info["max_n_ko"]
            max_n = min(info["total_n_ko"], n_rows)
            n_ko_rows = min_n
            prefix = ">" if n_rows and (max_n - min_n) / n_rows > 0.01 else "≈"
        else:
            n_ko_rows = len(merged)
            prefix = ""
        pct = 100.0 * n_ko_rows / n_rows if n_rows else 0.0
        check_pct = (
            100.0 * info["n_ko_checks"] / info["n_checks"]
            if info["n_checks"] else 0.0
        )
        body = [
            "<div class='tab'>",
            "<div class='cards'>",
            f"<div class='card'>{_svg_gauge(pct, prefix=prefix)}</div>",
            f"<div class='card'>{_svg_gauge(check_pct, 'checks KO')}</div>",
            f"<div class='card kpi'>{n_rows}<small>rows</small></div>",
            f"<div class='card kpi'>{html_mod.escape(prefix)}{n_ko_rows}"
            "<small>rows with ≥1 KO</small></div>",
            "</div>",
            "<table class='checks'><thead><tr>"
            + "".join(
                f"<th onclick='sortBy(this)'>{h}</th>"
                for h in ["check", "severity", "n_ko", "n_rows", "status", "sample"]
            )
            + "</tr></thead><tbody>",
        ]
        for ci, c in enumerate(sorted(t.check_list, key=lambda c: -c.n_ko)):
            status = (
                "ko" if (c.flag_ko and c.severity == "fail")
                else "warn" if c.flag_ko else "ok"
            )
            sid = f"s{ti}_{ci}"
            cap_mark = " (sample capped)" if c.flag_over_max_rows else ""
            btn = (
                f"<button class='tgl' onclick=\"tglSample('{sid}',this)\">"
                f"show rows</button>{cap_mark}"
                if c.flag_ko
                else ""
            )
            body.append(
                f"<tr><td>{html_mod.escape(c.description)}</td>"
                f"<td>{c.severity}</td><td data-v='{c.n_ko}'>{c.n_ko}</td>"
                f"<td data-v='{c.n_rows}'>{c.n_rows}</td>"
                f"<td class='status-{status}'>{status.upper()}</td><td>{btn}</td></tr>"
            )
            if c.flag_ko:
                body.append(
                    f"<tr class='sample' id='{sid}'><td colspan='6'>"
                    + c.ko_rows.to_html(index=False, border=0)
                    + "</td></tr>"
                )
        body.append("</tbody></table></div>")
        parts.append("".join(body))

    out = path if path.endswith(".html") else path + ".html"
    with open(out, "w") as f:
        f.write("\n".join(parts))
    return out
