"""Matview-backed SELECT rewriting (aggregate navigation).

The classic OLAP query rewrite (Oracle materialized views, Calcite's
MaterializedViewRule) and the reason the reference funnels dashboards
through pre-aggregated Athena tables (rds_to_datalake/athena.py:16-64):
a plain ``SELECT ... GROUP BY`` whose FROM clause matches a registered
materialized view's definition is answered from the view STORE, so the
query costs ∝ |view| (thousands of group rows) instead of ∝ |base|
(the corpus). At 100 TB the view IS the serving plan — this module
makes it automatic instead of requiring every reader to know the view
exists and spell its name.

Two rewrite modes:

- **projection**: the query groups by exactly the view's group columns
  and every aggregate matches a view aggregate verbatim — the answer
  is a filter + projection over the store, no aggregation at all.
- **rollup**: the query groups by a SUBSET of the view's group columns
  (including the empty set — a global aggregate) — re-aggregable
  aggregates collapse view rows: ``sum(x)`` → ``sum(view.sum_x)``,
  ``count(...)`` → ``sum(view.cnt)`` (coalesced to 0 for the global
  form, where SQL demands one row even over nothing), ``min``/``max``
  pass through their own function, and ``avg(x)`` decomposes to
  ``sum(view.sum_x) / sum(view.cnt_x)`` when the view carries BOTH
  (guarded to non-DECIMAL stores — DECIMAL division changes the
  result scale vs a base-side ``avg``, and schema parity is part of
  the contract). ``count(DISTINCT ...)`` never re-aggregates across
  groups, so it only serves in projection mode.

Everything about the match is SAFE-LISTED — any shape this module does
not fully understand falls through to the ordinary plan against the
base tables, never to a wrong answer:

- the statement must be a single-block SELECT (no subqueries, UNION,
  DISTINCT, HAVING, window functions);
- the FROM clause must canonicalize to a view definition's FROM
  (same tables, same join kinds, same ON pairs — ON equality is
  symmetric and join-key names are unqualified for matching, which is
  sound because the view classes require column names to disambiguate
  across their tables);
- every WHERE / ORDER BY identifier must be a view group column (or a
  select alias, for ORDER BY) — predicates on aggregated-away columns
  cannot be served post-aggregation;
- the view must be FRESH: its refresh cursor at every base's head and
  no pending delta intent. A stale view silently declines the rewrite
  (the reader sees current truth, just slower) — matching the engine's
  advisory-index discipline everywhere else.

Time-bucket HIERARCHY: a query grouping by ``date_trunc(U, src)`` is
served from a view keyed by ``date_trunc(V, src)`` whenever V's
boundaries subdivide U's (hourly view → daily/monthly/yearly query;
day → week; month → quarter/year; WEEK feeds nothing coarser — an ISO
week's Monday can precede its month boundary) — the continuous-
aggregate cascade without materializing every level. When several
views match, the CHEAPEST serves: fewest group columns, then the
coarsest bucket (a daily query prefers the daily view over
re-bucketing the hourly one).

``LAST_SELECT_REWRITE`` records the decision for tests/bench; set
``AUTO_REWRITE = False`` to disable the pass entirely.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

# Observability: the last run_query SELECT's rewrite decision —
# ``None`` when the last SELECT ran against its base tables, else
# {"view", "mode", "sql"}.
LAST_SELECT_REWRITE: dict | None = None

# Global kill switch (ops: a wrong-looking dashboard number must be
# attributable — flip this off to force base-table plans).
AUTO_REWRITE: bool = True

# Bounded-staleness serving (ops SLO knob): 0 — the default — serves
# only EXACTLY fresh views; N > 0 lets a view lagging at most N base
# commits (summed across its tables) serve, trading bounded lag for a
# guaranteed store-sized plan (the dashboard pattern: a view refreshed
# every few commits answers instantly and never scans the corpus).
# A pending delta intent or a reset base never serves regardless.
MAX_STALE_COMMITS: int = 0

_IDENT = r"(?:[\w$]+|`[^`]+`)"
_QNAME = rf"{_IDENT}(?:\.{_IDENT})*"

# One top-level SELECT block. Matched against the literal-masked text
# so keywords inside string literals never fire; group spans transfer
# to the original (the mask is length-preserving).
_Q_RE = re.compile(
    rf"^\s*SELECT\s+(?P<sel>.+?)\s+FROM\s+(?P<from>{_QNAME}"
    rf"(?:\s+(?:(?:INNER|LEFT(?:\s+OUTER)?)\s+)?JOIN\s+{_QNAME}"
    r"\s+ON\s+[\w.`$]+\s*=\s*[\w.`$]+)*)"
    r"(?:\s+WHERE\s+(?P<where>.+?))?"
    r"(?:\s+GROUP\s+BY\s+(?P<grp>.+?))?"
    r"(?:\s+HAVING\s+(?P<hav>.+?))?"
    r"(?:\s+ORDER\s+BY\s+(?P<ord>.+?))?"
    r"(?:\s+LIMIT\s+(?P<lim>\d+))?"
    r"\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_JOIN_HOP_RE = re.compile(
    rf"\s+(?:(?P<how>INNER|LEFT(?:\s+OUTER)?)\s+)?JOIN\s+(?P<tbl>{_QNAME})"
    r"\s+ON\s+(?P<l>[\w.`$]+)\s*=\s*(?P<r>[\w.`$]+)",
    re.IGNORECASE,
)

# Shapes the single-block regex could mis-slice or whose semantics the
# store cannot serve — checked on the masked text before any parsing.
_UNSUPPORTED_RE = re.compile(
    r"\(\s*SELECT\b|\bUNION\b|\bINTERSECT\b|\bEXCEPT\b"
    r"|\bOVER\s*\(|^\s*SELECT\s+DISTINCT\b|\bCROSS\s+JOIN\b"
    r"|\bFOR\s+VERSION\s+AS\s+OF\b",
    re.IGNORECASE,
)

_AGG_HEAD_RE = re.compile(r"^(count|sum|min|max|avg)\(")


def _outer_agg(nq: str) -> tuple[str, bool, str] | None:
    """``(func, is_distinct, inner)`` when the WHOLE normalized
    expression is one aggregate call — paren-balance-checked, so
    ``min(a)+min(b)`` (which a naive regex would read as an outer
    ``min``) is rejected: rolling it up with ``min()`` would be wrong.
    """
    m = _AGG_HEAD_RE.match(nq)
    if not m or not nq.endswith(")"):
        return None
    depth = 0
    for i in range(m.end() - 1, len(nq)):
        if nq[i] == "(":
            depth += 1
        elif nq[i] == ")":
            depth -= 1
            if depth == 0:
                if i != len(nq) - 1:
                    return None  # call closes before the end: composite
                inner = nq[m.end() : i]
                dm = re.match(r"^distinct\s+", inner)
                return (
                    m.group(1),
                    dm is not None,
                    inner[dm.end() :] if dm else inner,
                )
    return None

# Calendar-aligned truncation nesting: date_trunc(U, date_trunc(V, x))
# == date_trunc(U, x) exactly when V's boundaries subdivide U's.
# Sub-day units nest in everything above them; WEEK nests in NOTHING
# coarser (an ISO week's Monday can precede its month/quarter/year
# boundary, so month-of-Monday ≠ month-of-timestamp) and nothing finer
# nests in week except sub-week units; month nests in quarter/year.
_TRUNC_COARSER: dict[str, set[str]] = {
    "second": {"minute", "hour", "day", "week", "month", "quarter", "year"},
    "minute": {"hour", "day", "week", "month", "quarter", "year"},
    "hour": {"day", "week", "month", "quarter", "year"},
    "day": {"week", "month", "quarter", "year"},
    "week": set(),
    "month": {"quarter", "year"},
    "quarter": {"year"},
    "year": set(),
}
# fineness rank for candidate scoring (coarser = fewer store rows)
_TRUNC_RANK = {
    "second": 7, "minute": 6, "hour": 5, "day": 4,
    "week": 3, "month": 2, "quarter": 1, "year": 0,
}
_UNIT_ALIASES = {
    "ss": "second", "seconds": "second",
    "mi": "minute", "min": "minute", "minutes": "minute",
    "hh": "hour", "hours": "hour",
    "dd": "day", "days": "day",
    "ww": "week", "weeks": "week",
    "mm": "month", "mon": "month", "months": "month",
    "qq": "quarter", "quarters": "quarter",
    "yy": "year", "yyyy": "year", "years": "year",
}

_TRUNC_RE = re.compile(r"^date_trunc\('(\w+)',([\w.$]+)\)$")


def _parse_trunc(norm_expr: str) -> tuple[str, str] | None:
    """``date_trunc('hour',ts)`` (normalized) → ("hour", "ts")."""
    m = _TRUNC_RE.match(norm_expr)
    if not m:
        return None
    unit = m.group(1).lower()
    unit = _UNIT_ALIASES.get(unit, unit)
    return (unit, m.group(2)) if unit in _TRUNC_COARSER else None


# Identifier-looking tokens that are SQL syntax, not column references
# (conservative: anything not listed and not a function call must be a
# known group column or the rewrite declines).
_PRED_KEYWORDS = {
    "and", "or", "not", "in", "between", "like", "rlike", "is", "null",
    "true", "false", "asc", "desc", "nulls", "first", "last", "escape",
    "date", "timestamp", "interval", "case", "when", "then", "else",
    "end", "distinct", "cast", "as",
}


def _norm(e: str) -> str:
    """Whitespace/case-insensitive expression canon — the same folding
    ``sql._parse_mv_shape`` applies when matching GROUP BY expressions
    to select aliases, plus ``count(1)`` → ``count(*)``."""
    e = re.sub(r"\s+", " ", e.strip().lower())
    e = re.sub(r"\s*([(),+\-*/=])\s*", r"\1", e)
    return re.sub(r"^count\(1\)$", "count(*)", e)


def _unq(name: str) -> str:
    return ".".join(
        seg[1:-1] if seg.startswith("`") else seg
        for seg in re.findall(_IDENT, name)
    ).lower()


def _bare(col: str) -> str:
    """``orders.o_custkey`` / ``o.`o_custkey``` → ``o_custkey`` — the
    view classes require join-key names to be unambiguous across their
    tables, so the unqualified name is a sound canonical form."""
    return _unq(col).split(".")[-1]


def _on_pair(l: str, r: str) -> str:
    a, b = sorted((_bare(l), _bare(r)))
    return f"{a}={b}"


def _canon_hops(text: str) -> tuple[str, int] | None:
    """Canonicalize the JOIN tail of a FROM clause; returns the canon
    and the number of characters consumed, or None if anything between
    hops fails to parse (aliases, USING, non-equi ON, ...)."""
    parts, pos = [], 0
    for m in _JOIN_HOP_RE.finditer(text):
        if text[pos : m.start()].strip():
            return None
        how = "left" if (m.group("how") or "").lower().startswith("l") else "inner"
        parts.append(f"|{how}:{_unq(m.group('tbl'))}:{_on_pair(m.group('l'), m.group('r'))}")
        pos = m.end()
    if text[pos:].strip():
        return None
    return "".join(parts), pos


def canon_from(text: str) -> str | None:
    """``t1 LEFT JOIN t2 ON a = b`` → ``t1|left:t2:a=b`` (tables
    lowercased/unquoted, ON pairs sorted)."""
    m = re.match(rf"^\s*({_QNAME})", text)
    if not m:
        return None
    hops = _canon_hops(text[m.end() :])
    if hops is None:
        return None
    return _unq(m.group(1)) + hops[0]


def attach_meta(mv, m: re.Match) -> None:
    """Record the rewrite-relevant shape of a facade-created view on
    the view object (CREATE MATERIALIZED VIEW calls this). Views built
    programmatically carry no meta and are never rewrite candidates.
    """
    gd = m.groupdict()
    base = _unq(m.group("base"))
    if gd.get("joins"):
        hops = _canon_hops(m.group("joins"))
        if hops is None:  # never expected — the CREATE regex vetted it
            return
        frm = base + hops[0]
    elif gd.get("right"):
        how = "left" if (gd.get("jhow") or "").lower().startswith("l") else "inner"
        frm = f"{base}|{how}:{_unq(m.group('right'))}:" + _on_pair(
            m.group("lon"), m.group("ron")
        )
    else:
        frm = base
    mv.rewrite_meta = {
        "from": frm,
        "group_cols": list(mv.group_cols),
        "group_exprs": {c: _norm(e) for c, e in mv.group_exprs.items()},
        # normalized agg expression -> store column name
        "aggs": {_norm(e): c for c, e in mv.aggs.items()},
    }


def _lag(mv) -> int | None:
    """Commits the view's cursor trails its bases by, summed across
    tables (0 = exactly fresh); None = never serve (never refreshed,
    a base was reset, a delta intent is pending, or the cursor is
    somehow AHEAD of a head). Metadata reads only."""
    from rds_to_datalake_project_spark.operators.matview import (
        _SignedDeltaMergeMixin,
    )

    if isinstance(mv, _SignedDeltaMergeMixin) and mv._pending():
        return None
    cur, heads = mv.refreshed_versions(), mv._heads()
    if cur is None or any(h < c for h, c in zip(heads, cur)):
        return None
    return sum(h - c for h, c in zip(heads, cur))


def _parse_shape(sel_text: str, grp_text: str | None):
    """(group_cols, group_exprs, aggs) of the QUERY — same contract as
    the facade's CREATE parsing (bare group columns + ``<expr> AS
    <alias>`` items), with GROUP BY optional (absent = global
    aggregate: every select item must be an aliased expression)."""
    from rds_to_datalake_project_spark.sql import _parse_mv_shape

    class _M:
        def __init__(self, sel, grp):
            self._g = {"sel": sel, "grp": grp}

        def group(self, k):
            return self._g[k]

    if grp_text is not None:
        return _parse_mv_shape(_M(sel_text, grp_text))
    from rds_to_datalake_project_spark.sql import _split_top_level

    aggs = {}
    for item in _split_top_level(sel_text):
        alias = re.match(r"(?is)^(.+?)\s+AS\s+(\w+)\s*$", item)
        if not alias or alias.group(2) in aggs:
            raise ValueError("global aggregate items must be aliased")
        aggs[alias.group(2)] = alias.group(1).strip()
    return [], {}, aggs


def _idents_ok(text: str, allowed: set[str]) -> bool:
    """Every column-looking identifier in a predicate / ORDER BY must
    be in ``allowed``. Function names (identifier followed by ``(``)
    and SQL keywords pass; anything else unknown declines the rewrite.
    """
    for m in re.finditer(r"[A-Za-z_]\w*", text):
        tok = m.group(0)
        rest = text[m.end() :].lstrip()
        if rest.startswith("("):  # function call
            continue
        if tok.lower() in _PRED_KEYWORDS:
            continue
        if tok not in allowed:
            return False
    return True


def _group_term_for(inner_norm: str, meta: dict) -> str | None:
    """Store-side spelling of an expression that IS one of the view's
    group keys (bare column, derived expression, or a date_trunc the
    view's finer bucket re-truncates to) — or None."""
    for g in meta["group_cols"]:
        ve = meta["group_exprs"].get(g)
        if ve is None:
            if inner_norm == g:
                return g
        elif ve == inner_norm:
            return g
    qt = _parse_trunc(inner_norm)
    if qt is not None:
        for g in meta["group_cols"]:
            ve = meta["group_exprs"].get(g)
            vt = _parse_trunc(ve) if ve else None
            if vt and vt[1] == qt[1] and (
                qt[0] == vt[0] or qt[0] in _TRUNC_COARSER[vt[0]]
            ):
                return g if qt[0] == vt[0] else f"date_trunc('{qt[0]}', {g})"
    return None


def _map_agg(q_expr: str, meta: dict, store_dtypes: dict, rollup: bool):
    """Map one query aggregate onto the view store; returns the SQL
    expression over store columns, or None (not derivable)."""
    nq = _norm(q_expr)
    exact = meta["aggs"].get(nq)
    outer = _outer_agg(nq)
    if not rollup:
        if exact is not None:
            return exact
    elif exact is not None and outer is not None:
        func, is_distinct, _ = outer
        if not is_distinct and func in ("sum", "min", "max"):
            return f"{func}({exact})"
        if not is_distinct and func == "count":
            return f"sum({exact})"
    # DISTINCT over a view GROUP KEY: the store preserves the distinct
    # value set per rolled-up group (one row per full group tuple), so
    # count/sum/avg(DISTINCT x) re-aggregate as themselves over the
    # store column — NULL keys drop out of both sides identically
    if rollup and outer is not None and outer[1] and outer[0] in (
        "count", "sum", "avg"
    ):
        term = _group_term_for(_norm(outer[2]), meta)
        if term is not None:
            return f"{outer[0]}(DISTINCT {term})"
    # avg(x) → sum(sum_x)/sum(cnt_x): needs both components; DECIMAL
    # sums divide to a different scale than a base-side avg, so only
    # non-DECIMAL stores keep schema parity.
    if outer is not None and outer[0] == "avg" and not outer[1]:
        inner = outer[2]
        sc = meta["aggs"].get(f"sum({inner})")
        cc = meta["aggs"].get(f"count({inner})")
        if sc and cc and not store_dtypes.get(sc, "").startswith("decimal"):
            if rollup:
                return f"(sum({sc}) / sum({cc}))"
            return f"({sc} / {cc})"
    return None


def try_rewrite(
    spark: SparkSession, sql: str, observe: bool = True
) -> DataFrame | None:
    """Attempt to serve ``sql`` from a fresh materialized view; returns
    the DataFrame on success, None to fall through to the normal plan.
    Never raises for unsupported shapes — unsupported means decline.
    When several views match, the cheapest serves: fewest group
    columns, then the COARSEST time bucket (a daily query prefers a
    fresh daily view over re-bucketing the hourly one).

    Aggregate-shaped statements (whether served or not) are reported
    to the workload advisor (``advisor.observe``) so RECOMMEND
    MATERIALIZED VIEWS can propose views for the misses; pass
    ``observe=False`` for dry-run callers (EXPLAIN REWRITE) that must
    not count as workload."""
    global LAST_SELECT_REWRITE
    LAST_SELECT_REWRITE = None
    from rds_to_datalake_project_spark import advisor
    from rds_to_datalake_project_spark.sql import (
        MATVIEWS,
        _mask_string_literals,
    )

    capture = observe and advisor.CAPTURE
    if not capture and (not AUTO_REWRITE or not MATVIEWS):
        return None
    masked = _mask_string_literals(sql)
    if _UNSUPPORTED_RE.search(masked):
        return None
    m = _Q_RE.match(masked)
    if m is None:
        return None

    def _orig(g: str) -> str | None:
        s, e = m.span(g)
        return sql[s:e] if s >= 0 else None

    q_from = canon_from(_orig("from"))
    if q_from is None:
        return None
    try:
        q_group_cols, q_group_exprs, q_aggs = _parse_shape(
            _orig("sel"), _orig("grp")
        )
    except ValueError:
        return None
    if not q_aggs and _orig("grp") is None:
        return None  # row-level SELECT: the store has aggregated rows
    shape_rec = (
        advisor.observe(
            q_from, _orig("from"), q_group_cols, q_group_exprs, q_aggs
        )
        if capture
        else None
    )
    if not AUTO_REWRITE or not MATVIEWS:
        return None

    plans = []
    for name, mv in MATVIEWS.items():
        try:
            plan = _match_one(spark, sql, m, _orig, q_from,
                              q_group_cols, q_group_exprs, q_aggs, name, mv)
        except Exception:
            # advisory path: an unexpected failure while MATCHING one
            # candidate declines that candidate — the base plan always
            # answers. (The rewritten plan itself, once chosen, is
            # built from validated pieces and surfaces its errors.)
            continue
        if plan is not None:
            plans.append(plan)
    if not plans:
        return None
    best = min(plans, key=lambda p: p["score"])
    tmp = f"__mvrw_{re.sub(r'[^A-Za-z0-9_]', '_', best['view'])}"
    best["mv"].read().createOrReplaceTempView(tmp)
    out_sql = best["sql"].format(store=tmp)
    df = spark.sql(out_sql)
    LAST_SELECT_REWRITE = {
        "view": best["view"],
        "mode": best["mode"],
        "sql": out_sql,
        "lag": best["lag"],
    }
    if shape_rec is not None:
        advisor.mark_served(shape_rec, best["view"])
    return df


def _match_one(
    spark, sql, m, _orig, q_from, q_group_cols, q_group_exprs, q_aggs,
    name, mv,
) -> dict | None:
    """Match the parsed query against ONE view; returns a candidate
    plan dict ({view, mv, mode, sql (with a {store} placeholder),
    score}) or None to decline."""
    from rds_to_datalake_project_spark.sql import _mask_string_literals

    meta = getattr(mv, "rewrite_meta", None)
    if meta is None or meta["from"] != q_from:
        return None
    v_groups = meta["group_cols"]
    # map every query group column onto the store: its own view column
    # when name+derivation agree, else a HIERARCHICAL re-bucket —
    # date_trunc(U, src) over a view key date_trunc(V, src) whose V
    # nests in U (sub-day units roll into anything; week only absorbs,
    # never feeds month+). Track the VIEW-side bucket fineness for
    # candidate scoring (coarser view = fewer rows to re-aggregate).
    group_terms: list[str] = []
    rebucketed = False
    fineness = 0
    for c in q_group_cols:
        qe = q_group_exprs.get(c)
        qn = _norm(qe) if qe is not None else None
        if c in v_groups and meta["group_exprs"].get(c) == qn:
            group_terms.append(c)
            vt = _parse_trunc(qn) if qn else None
            if vt:
                fineness += _TRUNC_RANK[vt[0]]
            continue
        qt = _parse_trunc(qn) if qn is not None else None
        hit = None
        if qt:
            for g in v_groups:
                ve = meta["group_exprs"].get(g)
                vt = _parse_trunc(ve) if ve else None
                if vt and vt[1] == qt[1] and (
                    qt[0] == vt[0] or qt[0] in _TRUNC_COARSER[vt[0]]
                ):
                    hit = (g, qt[0], vt[0])
                    break
        if hit is None:
            return None
        # same unit under a different alias: re-truncation is the
        # identity, read the view column directly
        group_terms.append(
            hit[0] if hit[1] == hit[2] else f"date_trunc('{hit[1]}', {hit[0]})"
        )
        rebucketed = True
        fineness += _TRUNC_RANK[hit[2]]
    having = _orig("hav")
    rollup = bool(
        rebucketed
        or set(q_group_cols) != set(v_groups)
        or not q_group_cols
        # HAVING is only valid over an aggregation — the projection
        # form has none, so a HAVING query re-aggregates the store
        # (group-by-full-set: same rows, one row per store group)
        or having is not None
    )
    # store dtypes are pinned by the view DEFINITION (CREATE fails on a
    # bad body), so resolve them once — not one file listing per SELECT
    store_dtypes = meta.get("dtypes")
    if store_dtypes is None:
        store_dtypes = meta["dtypes"] = dict(mv.read().dtypes)
    items = [
        c if t == c else f"{t} AS {c}"
        for c, t in zip(q_group_cols, group_terms)
    ]
    for _attempt in (0, 1):
        agg_items, missing = [], False
        for alias, expr in q_aggs.items():
            mapped = _map_agg(expr, meta, store_dtypes, rollup)
            if mapped is None:
                missing = True
                break
            # SQL requires one row from a global aggregate even over
            # an empty store; a rolled-up count must render 0 there,
            # not NULL
            if not q_group_cols and _norm(expr).startswith("count("):
                mapped = f"coalesce({mapped}, 0)"
            agg_items.append(f"{mapped} AS {alias}")
        if not missing:
            break
        if rollup:
            return None
        # an aggregate only derivable by re-aggregation (e.g.
        # count(DISTINCT <group key>) the view doesn't carry verbatim)
        # upgrades an exact-grouping match to rollup mode — grouping
        # by the full group set re-reads the same rows, one per store
        # group, so the answer is unchanged
        rollup = True
    items.extend(agg_items)
    where = _orig("where")
    if where is not None and not _idents_ok(
        _mask_string_literals(where), set(v_groups)
    ):
        return None
    # HAVING may reference only the query's AGG ALIASES and group
    # columns (both exist in the rewritten select; the base plan and
    # DuckDB resolve alias-HAVING the same way) — a HAVING spelled
    # over raw aggregate expressions would need expression surgery and
    # declines instead
    if having is not None and not (
        q_group_cols
        and _idents_ok(
            _mask_string_literals(having), set(q_group_cols) | set(q_aggs)
        )
    ):
        return None
    order = _orig("ord")
    if order is not None and not _idents_ok(
        _mask_string_literals(order), set(q_group_cols) | set(q_aggs)
    ):
        return None
    lag = _lag(mv)
    if lag is None or lag > MAX_STALE_COMMITS:
        return None
    out = f"SELECT {', '.join(items)} FROM {{store}}"
    if where is not None:
        out += f" WHERE {where}"
    if rollup and q_group_cols:
        out += f" GROUP BY {', '.join(group_terms)}"
    if having is not None:
        out += f" HAVING {having}"
    if order is not None:
        out += f" ORDER BY {order}"
    lim = m.group("lim")
    if lim is not None:
        out += f" LIMIT {lim}"
    return {
        "view": name,
        "mv": mv,
        "mode": "rollup" if rollup else "projection",
        "sql": out,
        "lag": lag,
        # prefer exactly-fresh candidates, then smaller stores
        "score": lag * 10_000 + len(v_groups) * 100 + fineness,
    }
