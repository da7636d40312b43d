"""Workload-driven materialized view advisor.

The reference solves "which aggregates should be pre-computed?" by
hand: someone reads the dashboard queries and writes the Athena CTAS
tables they should hit (rds_to_datalake/athena.py:16-64 serves them;
a human decides what exists). At 100 TB that decision is the
difference between a dashboard that answers in milliseconds from a
few thousand store rows and one that scans the corpus per refresh —
and a human watching query logs does not scale with the query surface.

This module closes the loop mechanically:

1. **Capture** — every SELECT that flows through ``run_query`` is
   already parsed by the aggregate-navigation rewriter
   (``rewrite.try_rewrite``); when the statement is aggregate-shaped
   (single-block GROUP BY over a canonical FROM), the rewriter reports
   the parsed shape here, together with whether a view served it.
   Capture is shape-level regex bookkeeping — no Spark work, no plan
   changes, bounded by ``MAX_SHAPES``.
2. **Cluster** — missed shapes (no view answered) group by canonical
   FROM. Within a cluster, every shape whose aggregates re-aggregate
   (sum/count/min/max/avg — no DISTINCT) folds into ONE candidate
   view keyed by the UNION of the group terms: the rewriter's rollup
   mode then serves each original query from a subset grouping.
   ``date_trunc`` group keys union to the coarsest unit that still
   subdivides every requested unit (day+month → day; week+month →
   day, because week nests in nothing coarser). Shapes carrying
   ``count(DISTINCT …)`` never re-aggregate across store rows, so
   they get an EXACT-grouping candidate per distinct group set
   (served in projection mode).
3. **Emit** — each candidate renders as executable facade DDL
   (``CREATE MATERIALIZED VIEW … WITH AUTO [DELTA] REFRESH AS …``),
   choosing signed-delta maintenance whenever every aggregate is
   delta-capable and the FROM shape has a delta view class (any
   single table or single join; inner-only chains) — so the
   recommended view's REFRESH cost is ∝ the change window, not the
   corpus. Ranking is by queries served (workload hit count), then
   first-seen order — deterministic for a given workload.

The advisor never creates anything itself: it returns ranked DDL for
a human (or the test harness) to execute — the same advisory-object
discipline as the zone-map/bloom sidecars.

SQL facade (``sql.run_query``):

- ``RECOMMEND MATERIALIZED VIEWS [LIMIT n]``
- ``SHOW QUERY WORKLOAD``
- ``RESET QUERY WORKLOAD``
"""

from __future__ import annotations

import re

from rds_to_datalake_project_spark import fsio

# Capture switch: flip off to make the rewriter stop reporting shapes
# (existing observations are kept until reset()).
CAPTURE: bool = True

# Shape-table bound — a workload with more DISTINCT aggregate shapes
# than this stops absorbing new ones (hit counts on known shapes keep
# accumulating). Protects a long-lived session from unbounded growth.
MAX_SHAPES: int = 1024

# key -> shape record; dict preserves first-seen order (ranking ties
# and DDL table spellings are resolved by it).
_SHAPES: dict[tuple, dict] = {}


def reset() -> None:
    _SHAPES.clear()


def _term_id(col: str, norm_expr: str | None) -> str:
    return norm_expr if norm_expr is not None else col


def observe(
    from_canon: str,
    from_text: str,
    group_cols: list[str],
    group_exprs: dict[str, str],
    aggs: dict[str, str],
) -> dict | None:
    """Record one parsed aggregate-shaped SELECT; returns the shape
    record so the caller can ``mark_served`` it if a view answers.
    Called by ``rewrite.try_rewrite`` — not meant for direct use."""
    from rds_to_datalake_project_spark.rewrite import _norm

    terms = tuple(
        sorted(_term_id(c, _norm(group_exprs[c]) if c in group_exprs else None)
               for c in group_cols)
    )
    norm_aggs = {_norm(e): a for a, e in aggs.items()}
    key = (from_canon, terms, tuple(sorted(norm_aggs)))
    rec = _SHAPES.get(key)
    if rec is None:
        if len(_SHAPES) >= MAX_SHAPES:
            return None
        rec = _SHAPES[key] = {
            "from": from_canon,
            "from_text": re.sub(r"\s+", " ", from_text.strip()),
            # (col, raw_expr|None, norm_expr|None) in query order
            "group_terms": [
                (c, group_exprs.get(c),
                 _norm(group_exprs[c]) if c in group_exprs else None)
                for c in group_cols
            ],
            # norm agg expr -> first-seen query alias
            "aggs": norm_aggs,
            "hits": 0,
            "served_hits": 0,
            "served_by": None,
            "last_served": False,
        }
    rec["hits"] += 1
    rec["last_served"] = False
    return rec


def mark_served(rec: dict, view: str) -> None:
    rec["served_hits"] += 1
    rec["served_by"] = view
    rec["last_served"] = True


def workload() -> list[dict]:
    """First-seen-ordered copy of the captured shape table."""
    return [dict(r) for r in _SHAPES.values()]


_SLUG_RE = re.compile(r"\W+")


def _slug(expr: str) -> str:
    return _SLUG_RE.sub("_", expr).strip("_") or "expr"


def _agg_alias(norm_expr: str, preferred: str | None, taken: set[str]) -> str:
    cand = preferred or _slug(norm_expr)
    base, n = cand, 2
    while cand in taken:
        cand, n = f"{base}_{n}", n + 1
    taken.add(cand)
    return cand


def _parse_agg(norm_expr: str):
    """(func, is_distinct, inner) via the rewriter's balanced parse;
    None when the expression is not a single outer aggregate call."""
    from rds_to_datalake_project_spark.rewrite import _outer_agg

    return _outer_agg(norm_expr)


def _rollupable(rec: dict) -> bool:
    """Every aggregate re-aggregates across store rows — the shape can
    be served by a coarser-keyed view in rollup mode."""
    for ne in rec["aggs"]:
        o = _parse_agg(ne)
        if o is None or o[1]:  # not a plain outer agg, or DISTINCT
            return False
    return True


def _advisable(rec: dict) -> bool:
    """Shapes the generated DDL could actually define: every aggregate
    parses as one outer sum/count/min/max/avg call (DISTINCT allowed
    — those route to exact-grouping candidates)."""
    return all(_parse_agg(ne) is not None for ne in rec["aggs"])


def _union_trunc_unit(units: set[str]) -> str | None:
    """Coarsest date_trunc unit whose boundaries subdivide every
    requested unit (the view key that serves all of them via the
    rewriter's hierarchy); None only if ``units`` holds an unknown."""
    from rds_to_datalake_project_spark.rewrite import (
        _TRUNC_COARSER,
        _TRUNC_RANK,
    )

    if not units <= set(_TRUNC_COARSER):
        return None
    for v in sorted(_TRUNC_COARSER, key=lambda u: _TRUNC_RANK[u]):
        if all(u == v or u in _TRUNC_COARSER[v] for u in units):
            return v
    return None  # unreachable: 'second' subdivides every unit


def _delta_capable(canon_from: str, agg_parses: list[tuple]) -> bool:
    """Would the facade's WITH DELTA REFRESH accept this view? Signed-
    delta classes exist for single tables, single joins (inner or
    LEFT), and inner-only chains; sum/count/avg/min/max and
    count/sum(DISTINCT) maintain incrementally, avg(DISTINCT) does
    not."""
    hops = canon_from.count("|")
    if hops >= 2 and "|left:" in canon_from:
        return False
    for func, is_distinct, _inner in agg_parses:
        if is_distinct and func not in ("count", "sum"):
            return False
    return True


def _disjoint_columns(from_canon: str, tables: dict | None) -> bool:
    """The delta join/chain classes require pairwise-disjoint column
    names across their tables (the signed term union carries every
    table's columns side by side). With the registered tables in hand,
    verify that before recommending WITH DELTA REFRESH; unknown tables
    (or no registry) answer True — the optimistic DDL then surfaces
    the constructor's own error if it doesn't hold."""
    if tables is None or "|" not in from_canon:
        return True
    cluster = _cluster_tables(from_canon, tables)
    if cluster is None:
        return True
    seen: set[str] = set()
    for t in cluster:
        cols = set(t.read().columns)
        if cols & seen:
            return False
        seen |= cols
    return True


def _slugless_unq(name: str) -> str:
    from rds_to_datalake_project_spark.rewrite import _unq

    return _unq(name)


def _cluster_tables(from_canon: str, tables: dict | None) -> list | None:
    """Resolve the canonical FROM's table names against the registered
    tables; None when any is unknown (or no registry was given)."""
    if tables is None:
        return None
    segs = from_canon.split("|")
    names = [segs[0]] + [s.split(":")[1] for s in segs[1:]]
    by_canon = {_slugless_unq(k): v for k, v in tables.items()}
    out = []
    for nm in names:
        t = by_canon.get(nm)
        if t is None:
            return None
        out.append(t)
    return out


def _scan_estimate(tables: list) -> tuple[int, int] | None:
    """(files, bytes) a base-plan scan of the cluster's tables costs —
    the price every unserved query pays that the recommended view
    would not. Driver-side metadata walk of the CURRENT snapshot
    through each table's fsio handle, so any scheme works
    (dot/underscore dirs — retired versions, sidecars, markers — are
    not data); None when a table has no path or its root is
    missing."""
    files = size = 0
    for t in tables:
        path, spark = getattr(t, "path", None), getattr(t, "spark", None)
        if not path or spark is None:
            return None
        est = fsio.live_data_size(fsio.fs_for(spark, path), path)
        if est is None:
            return None
        files, size = files + est[0], size + est[1]
    return files, size


def _candidate(from_canon, from_text, shapes, name, tables=None):
    """Assemble one candidate view (group-term union + aggregate
    union) from a list of co-served shapes; returns the
    recommendation dict."""
    # --- group terms -------------------------------------------------
    from rds_to_datalake_project_spark.rewrite import _parse_trunc

    plain: list[str] = []  # bare columns, first-seen order
    trunc: dict[str, dict] = {}  # src col -> {units, alias per unit}
    exprs: dict[str, tuple[str, str]] = {}  # norm -> (alias, raw expr)
    for rec in shapes:
        for col, raw, norm in rec["group_terms"]:
            if norm is None:
                if col not in plain:
                    plain.append(col)
                continue
            t = _parse_trunc(norm)
            if t is not None:
                unit, src = t
                d = trunc.setdefault(src, {"units": {}, "order": len(trunc)})
                d["units"].setdefault(unit, (col, raw))
                continue
            exprs.setdefault(norm, (col, raw))
    taken = set(plain)
    sel_groups: list[str] = list(plain)
    grp_names: list[str] = list(plain)
    for src, d in sorted(trunc.items(), key=lambda kv: kv[1]["order"]):
        unit = _union_trunc_unit(set(d["units"]))
        if unit in d["units"]:
            alias, raw = d["units"][unit]
        else:
            alias, raw = f"{_slug(src)}_{unit}", f"date_trunc('{unit}', {src})"
        alias = _agg_alias(f"trunc_{src}", alias, taken)
        sel_groups.append(f"{raw} AS {alias}")
        grp_names.append(alias)
    for norm, (alias, raw) in exprs.items():
        alias = _agg_alias(norm, alias, taken)
        sel_groups.append(f"{raw} AS {alias}")
        grp_names.append(alias)
    # --- aggregates ---------------------------------------------------
    agg_items: list[str] = []
    agg_parses: list[tuple] = []
    seen_aggs: set[str] = set()

    def _add(norm_expr: str, preferred: str | None) -> None:
        if norm_expr in seen_aggs:
            return
        seen_aggs.add(norm_expr)
        agg_parses.append(_parse_agg(norm_expr))
        agg_items.append(
            f"{norm_expr} AS {_agg_alias(norm_expr, preferred, taken)}"
        )

    for rec in shapes:
        for norm_expr, alias in rec["aggs"].items():
            _add(norm_expr, alias)
            o = _parse_agg(norm_expr)
            if o and o[0] == "avg" and not o[1]:
                # rollup/projection avg serves via sum/count
                # decomposition — make sure the view carries both
                _add(f"sum({o[2]})", None)
                _add(f"count({o[2]})", None)
    strategy = (
        "delta"
        if _delta_capable(from_canon, agg_parses)
        and _disjoint_columns(from_canon, tables)
        else "recompute"
    )
    cluster = _cluster_tables(from_canon, tables)
    est = _scan_estimate(cluster) if cluster else None
    with_clause = (
        "WITH AUTO DELTA REFRESH" if strategy == "delta"
        else "WITH AUTO REFRESH"
    )
    ddl = (
        f"CREATE MATERIALIZED VIEW {name} {with_clause} AS "
        f"SELECT {', '.join(sel_groups + agg_items)} "
        f"FROM {from_text} GROUP BY {', '.join(grp_names)}"
    )
    return {
        "name": name,
        "strategy": strategy,
        "queries_served": sum(r["hits"] - r["served_hits"] for r in shapes),
        "shapes_served": len(shapes),
        "group_cols": grp_names,
        # what every unserved query's base plan scans today — the
        # saving the view buys per query (None when tables unknown)
        "est_base_files": est[0] if est else None,
        "est_base_bytes": est[1] if est else None,
        "ddl": ddl,
    }


def recommend(
    top: int | None = None,
    min_queries: int = 1,
    tables: dict | None = None,
) -> list[dict]:
    """Ranked CREATE MATERIALIZED VIEW recommendations for the
    captured workload's UNSERVED aggregate queries. Deterministic for
    a given observation sequence: clusters form in first-seen order,
    ranking is queries_served desc then first-seen. ``tables`` (name →
    KeyedTable, e.g. ``sql.TIME_TRAVEL_TABLES``) lets the advisor
    verify delta-class column disjointness before recommending
    WITH DELTA REFRESH on a join/chain shape."""
    # a shape is a candidate while its MOST RECENT observation went to
    # the base plan — once a created view starts answering it, it
    # leaves the recommendation set (and returns if the view is
    # dropped or goes permanently stale, since the next miss resets
    # the flag)
    missed = [
        r for r in _SHAPES.values()
        if not r["last_served"] and _advisable(r)
    ]
    # canonical FROM -> (first-seen from_text, rollupable shapes,
    #                    exact-group clusters)
    clusters: dict[str, dict] = {}
    for rec in missed:
        c = clusters.setdefault(
            rec["from"],
            {"from_text": rec["from_text"], "rollup": [], "exact": {}},
        )
        if _rollupable(rec):
            c["rollup"].append(rec)
        else:
            key = tuple(sorted(
                _term_id(col, norm) for col, _raw, norm in rec["group_terms"]
            ))
            c["exact"].setdefault(key, []).append(rec)
    # candidate names: rec_<base table>_<n>, skipping ordinals already
    # bound in MATVIEWS — an adopted recommendation keeps its name and
    # later candidates for the same FROM get fresh ones (APPLY
    # RECOMMENDATIONS never needs to replace an existing view)
    from rds_to_datalake_project_spark.sql import MATVIEWS

    out: list[dict] = []
    n = 0

    def _name(base: str) -> str:
        nonlocal n
        while True:
            n += 1
            cand = f"rec_{base}_{n}"
            if cand not in MATVIEWS:
                return cand

    for canon, c in clusters.items():
        base = _slug(canon.split("|", 1)[0])
        if c["rollup"]:
            out.append(_candidate(
                canon, c["from_text"], c["rollup"], _name(base), tables
            ))
        for _key, shapes in c["exact"].items():
            out.append(_candidate(
                canon, c["from_text"], shapes, _name(base), tables
            ))
    out = [r for r in out if r["queries_served"] >= min_queries]
    out.sort(key=lambda r: -r["queries_served"])  # stable: ties first-seen
    return out[:top] if top is not None else out
