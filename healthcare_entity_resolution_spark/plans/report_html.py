"""Static HTML run report — the engine's analog of the reference's
Streamlit dashboard (/root/reference/dashboard/app.py + 4 pages).

The reference serves an interactive viewer over exported CSV/JSON; a
100 TB batch engine wants the inverse: the RUN writes a self-contained
``report.html`` artifact (no server, no JS deps, inline SVG charts) from
the same small report aggregates the reference pages display —
resolution stats, cluster-size histogram, match quality, provenance.
Reports are small by construction (bounded groupBy outputs), so
collecting them at the edge is driver-safe.

Use :func:`write_run_report` with the pipeline's DataFrames, or the
``make_report.py`` CLI to render from a committed run directory without a
SparkSession (duckdb reads the snapshots).
"""

from __future__ import annotations

import html
import json
from typing import Iterable, Mapping, Sequence

from pyspark.sql import functions as F

_CSS = """
body { font-family: -apple-system, 'Segoe UI', Roboto, sans-serif;
       margin: 2rem auto; max-width: 70rem; color: #1a1a2e; }
h1 { border-bottom: 2px solid #4361ee; padding-bottom: .3rem; }
h2 { color: #3a0ca3; margin-top: 2rem; }
table { border-collapse: collapse; margin: .8rem 0; font-size: .9rem; }
th, td { border: 1px solid #ccc; padding: .3rem .7rem; text-align: left; }
th { background: #eef; }
.kpi { display: inline-block; margin: .4rem 1.2rem .4rem 0; padding: .6rem 1rem;
       background: #f0f4ff; border-radius: .5rem; }
.kpi b { display: block; font-size: 1.4rem; }
svg .bar { fill: #4361ee; }
svg text { font-size: 10px; fill: #333; }
footer { margin-top: 3rem; color: #888; font-size: .8rem; }
"""
_TITLE = "Entity Resolution Run Report"
# physician_search_report page sizes: result rows, and drill-down entities
_MAX_ROWS = 200
_MAX_DRILL = 10


def _table(rows: Sequence[Mapping], columns: Sequence[str] | None = None,
           max_rows: int = 50) -> str:
    rows = list(rows)
    if not rows:
        return "<p><i>empty</i></p>"
    cols = list(columns or rows[0].keys())
    head = "".join(f"<th>{html.escape(str(c))}</th>" for c in cols)
    body = "".join(
        "<tr>" + "".join(
            f"<td>{html.escape(str(r.get(c, '')))}</td>" for c in cols
        ) + "</tr>"
        for r in rows[:max_rows]
    )
    more = (f"<p><i>… {len(rows) - max_rows} more rows omitted</i></p>"
            if len(rows) > max_rows else "")
    return f"<table><tr>{head}</tr>{body}</table>{more}"


def _bar_svg(items: Sequence[tuple[str, float]]) -> str:
    """Horizontal bar chart as inline SVG (no JS)."""
    items = list(items)
    if not items:
        return ""
    mx = max(v for _, v in items) or 1.0
    width, bar_h, gap, label_w = 640, 18, 4, 120
    rows = []
    for i, (label, v) in enumerate(items):
        y = i * (bar_h + gap)
        w = (width - label_w - 60) * v / mx
        rows.append(
            f'<text x="0" y="{y + bar_h - 5}">{html.escape(str(label))}</text>'
            f'<rect class="bar" x="{label_w}" y="{y}" width="{w:.1f}" '
            f'height="{bar_h}"></rect>'
            f'<text x="{label_w + w + 4:.1f}" y="{y + bar_h - 5}">{v:g}</text>'
        )
    h = len(items) * (bar_h + gap)
    return f'<svg width="{width}" height="{h}">{"".join(rows)}</svg>'


def render_report(
    stats: Mapping[str, object],
    sections: Iterable[tuple[str, str]],
) -> str:
    kpis = "".join(
        f'<span class="kpi"><b>{html.escape(str(v))}</b>{html.escape(str(k))}</span>'
        for k, v in stats.items()
    )
    body = "".join(f"<h2>{html.escape(t)}</h2>{content}" for t, content in sections)
    return (
        "<!doctype html><html><head><meta charset='utf-8'>"
        f"<title>{html.escape(_TITLE)}</title><style>{_CSS}</style></head>"
        f"<body><h1>{html.escape(_TITLE)}</h1>{kpis}{body}"
        "<footer>generated by healthcare_entity_resolution_spark</footer>"
        "</body></html>"
    )


def write_run_report(
    path: str,
    assignments=None,
    classified=None,
    lineage_events: Sequence[Mapping] | None = None,
) -> str:
    """Collect the small report aggregates from the pipeline DataFrames and
    write a self-contained HTML file.  Every input is optional — sections
    render for whatever is provided."""
    from ..operators import reports as R

    stats: dict[str, object] = {}
    sections: list[tuple[str, str]] = []

    if assignments is not None:
        sizes = R.cluster_size_report(assignments)
        rows = [r.asDict() for r in sizes.collect()]
        stats["records"] = assignments.count()
        stats["entities"] = (
            assignments.select("component_id").distinct().count()
        )
        sections.append((
            "Cluster size distribution",
            _bar_svg([(str(r["bucket"]), float(r["n_clusters"]))
                      for r in rows]) + _table(rows),
        ))
    if classified is not None:
        mq = [r.asDict() for r in R.match_quality_report(classified).collect()]
        if mq:
            stats["match pairs"] = sum(int(r.get("n", 0)) for r in mq)
        sections.append((
            "Match quality (pairwise decisions)",
            _bar_svg([(str(r["decision"]), float(r["n"])) for r in mq])
            + _table(mq),
        ))
    if lineage_events:
        sections.append((
            "Provenance (lineage events)",
            _table([{k: v for k, v in e.items() if k != "wall_time"}
                    for e in lineage_events], max_rows=100),
        ))

    out = render_report(stats, sections)
    with open(path, "w") as f:
        f.write(out)
    return path


def physician_search_report(
    physicians,
    mapping=None,
    source_records=None,
    influence=None,
    path: str = "physician_search.html",
    states: list[str] | None = None,
    specialties: list[str] | None = None,
    min_confidence: float | None = None,
    name_contains: str | None = None,
    top_k: int = 25,
) -> str:
    """Pages 01+02+03 of the reference dashboard (dashboard/pages/
    01_physician_search.py, 02_referral_network.py:46-90,
    03_data_provenance.py:60-111) as one static HTML page: metrics row,
    filtered results table (first 200), top influencers, and per-entity
    source-record drill-down (first 10 entities).  All heavy lifting happens as Spark plans over the
    exported snapshots (:mod:`.explore`); only page-sized results are
    collected."""
    from . import explore as X

    filtered = X.search_physicians(
        physicians, states=states, specialties=specialties,
        min_confidence=min_confidence, name_contains=name_contains,
    )
    m = X.search_metrics(filtered).collect()[0]
    stats = {
        "total_matching": m["total_matching"],
        "avg_confidence": round(m["avg_confidence"], 3)
        if m["avg_confidence"] is not None else None,
        "with_npi": m["with_npi"],
        "avg_sources": round(m["avg_sources"], 2)
        if m["avg_sources"] is not None else None,
    }
    sections: list[tuple[str, str]] = []

    cols = ["id", "name", "specialty", "city", "state",
            "confidence_score", "npi", "source_count"]
    rows = [r.asDict() for r in
            filtered.select(*cols).orderBy("id").limit(_MAX_ROWS).collect()]
    sections.append(
        (f"Results (first {len(rows)})", _table(rows, cols, max_rows=_MAX_ROWS))
    )

    if influence is not None:
        infl = [r.asDict() for r in X.top_influencers(
            physicians, influence, k=top_k,
            states=states, specialties=specialties).collect()]
        sections.append((
            f"Top {len(infl)} by influence",
            _table(infl, ["id", "name", "specialty", "state",
                          "influence_score", "referral_in_count",
                          "referral_out_count"]),
        ))

    if mapping is not None and rows:
        drill_ids = [r["id"] for r in rows[:_MAX_DRILL]]
        prov = mapping.join(
            physicians.select(F.col("id").alias("canonical_id"), "name")
            .where(F.col("canonical_id").isin(drill_ids)),
            "canonical_id",
        )
        prov_rows = [r.asDict() for r in prov.orderBy(
            "canonical_id", "source_record_id").collect()]
        sections.append((
            f"Provenance drill-down (first {len(drill_ids)} entities)",
            _table(prov_rows,
                   ["canonical_id", "name", "source_record_id",
                    "confidence"], max_rows=_MAX_DRILL * 25),
        ))
        if source_records is not None and prov_rows:
            rec_ids = sorted({r["source_record_id"] for r in prov_rows})
            recs = source_records.where(F.col("id").isin(rec_ids))
            rec_rows = [r.asDict() for r in recs.orderBy("id").limit(
                _MAX_DRILL * 25).collect()]
            keep = [c for c in ("id", "source", "source_id", "npi",
                                "name_raw", "specialty", "facility_city",
                                "facility_state") if rec_rows
                    and c in rec_rows[0]]
            sections.append(("Source records", _table(rec_rows, keep)))

    out = render_report(stats, sections)
    with open(path, "w") as f:
        f.write(out)
    return path


def report_from_run_dir(run_dir: str, path: str | None = None) -> str:
    """Render a report from a committed run directory WITHOUT Spark —
    duckdb reads the parquet snapshots (for ops/debug use)."""
    import os

    import duckdb

    path = path or os.path.join(run_dir, "report.html")
    stats: dict[str, object] = {}
    sections: list[tuple[str, str]] = []

    def _rows(sql: str) -> list[dict]:
        res = duckdb.sql(sql)
        cols = res.columns
        return [dict(zip(cols, row)) for row in res.fetchall()]

    assign_pq = os.path.join(run_dir, "assignments", "*.parquet")
    if os.path.exists(os.path.join(run_dir, "assignments", "_SUCCESS")):
        stats["records"] = _rows(
            f"SELECT count(*) AS n FROM read_parquet('{assign_pq}')")[0]["n"]
        stats["entities"] = _rows(
            "SELECT count(DISTINCT component_id) AS n "
            f"FROM read_parquet('{assign_pq}')")[0]["n"]
        hist = _rows(
            "SELECT CASE WHEN n = 1 THEN 'singleton' WHEN n <= 3 THEN '2-3' "
            " WHEN n <= 10 THEN '4-10' WHEN n <= 50 THEN '11-50' ELSE '50+' "
            " END AS bucket, count(*) AS n_clusters, sum(n) AS n_records "
            "FROM (SELECT component_id, count(*) AS n "
            f" FROM read_parquet('{assign_pq}') GROUP BY 1) GROUP BY 1 "
            "ORDER BY min(n)")
        sections.append((
            "Cluster size distribution",
            _bar_svg([(r["bucket"], float(r["n_clusters"])) for r in hist])
            + _table(hist),
        ))
    cls_pq = os.path.join(run_dir, "classified", "*.parquet")
    if os.path.exists(os.path.join(run_dir, "classified", "_SUCCESS")):
        mq = _rows(
            "SELECT decision, count(*) AS n, round(avg(overall_score), 4) "
            f"AS avg_score FROM read_parquet('{cls_pq}') GROUP BY 1 ORDER BY 1")
        sections.append((
            "Match quality",
            _bar_svg([(r["decision"], float(r["n"])) for r in mq]) + _table(mq),
        ))
    ev_path = os.path.join(run_dir, "lineage_events.jsonl")
    if os.path.exists(ev_path):
        with open(ev_path) as f:
            events = [json.loads(ln) for ln in f if ln.strip()]
        sections.append((
            "Provenance (lineage events)",
            _table([{k: v for k, v in e.items() if k != "wall_time"}
                    for e in events], max_rows=100),
        ))

    out = render_report(stats, sections)
    with open(path, "w") as f:
        f.write(out)
    return path
