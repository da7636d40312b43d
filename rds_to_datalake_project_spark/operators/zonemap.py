"""Zone maps — per-file min/max statistics for scan-time file skipping.

What Delta/Iceberg keep in their transaction-log / manifest stats
(SURVEY.md §4 "Upsert physical strategy": "file-skipping by min/max
stats"), re-expressed for the engine's plain-parquet lake tables: a
tiny parquet sidecar under ``<table>/.zonemap`` holding one row per
data file with min / max / row count for the indexed columns. A read
with a range or point predicate consults the sidecar and hands Spark
the exact list of files whose [min, max] zones intersect the
predicate — files the index proves out of range are never opened.
Parquet row-group stats still prune WITHIN each opened file; the zone
map prunes the file SET, which at 100 TB is the difference between
touching ~800k file footers and reading a sub-megabyte index. The
payoff compounds with the clustering passes (operators/compact.py
``cluster_by``: Hilbert / Z-order range repartition): clustered files
own narrow value ranges, so zones are tight and most files drop out.

Correctness stance — the index is ADVISORY:

- The live file set and the full-table schema always come from the
  table itself (_resolve_table, resolved once per commit token); the
  sidecar only says which of those files a predicate can skip. Files
  present on disk but absent from the index are ALWAYS read, so a
  stale or partial index (crash mid-build, files appended since)
  degrades to reading more files, never to row loss. Spark part-file
  names are globally unique (task UUIDs), so an index row can never
  describe a *different* file of the same name.
- A missing sidecar costs one existence check; one that exists but
  cannot be read logs a warning and the read scans every live file.
- Pruning drops a file only when the predicate interval provably
  misses [min, max]. An all-null zone (min/max NULL) is droppable for
  range predicates: a comparison with NULL is never true.
- Range reads evaluate bounds by Spark expressions over the stats
  frame, so type coercion matches the main scan's semantics exactly.
  Point probes planned on the driver (lookup, lookup_many, matview
  recompute scans) use zone_overlaps, which follows Spark's ordering
  (NaN largest) and keeps a file whenever Python and Spark could
  disagree (mismatched types, a comparison that raises).

The build is one column-pruned distributed aggregation (only the
indexed columns are read) grouped by ``input_file_name()`` — no data
rows ever reach the driver; the collect is one row per pruned-in
file, the same driver-side footprint as Delta's log replay.
"""

from __future__ import annotations

import logging
import math
import os
import threading
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rds_to_datalake_project_spark import fsio

_FILE = "file_uri"

# Diagnostics: CUMULATIVE zoned-read pruning verdicts since
# reset_prune_stats() — what bench.py reports as the index's
# I/O-avoided metric, which wall time at small SF can't show.
LAST_PRUNE: dict = {}


# Probes run on concurrent service threads too: every update is one
# locked read-modify-write, so the totals do not depend on the order.
# The bloom index's LAST_PRUNE is recorded under the same lock.
_PRUNE_LOCK = threading.Lock()


def reset_prune_stats() -> None:
    with _PRUNE_LOCK:
        LAST_PRUNE.clear()


def _record_prune(stats: dict, files_total: int, files_read: int) -> None:
    """Add one probe's verdict to ``stats`` — this module's LAST_PRUNE
    or the bloom index's."""
    with _PRUNE_LOCK:
        stats["probes"] = stats.get("probes", 0) + 1
        stats["files_total"] = stats.get("files_total", 0) + files_total
        stats["files_read"] = stats.get("files_read", 0) + files_read
        stats["files_skipped"] = stats["files_total"] - stats["files_read"]


def warn_fallback(idx: str, what: str, exc: Exception) -> None:
    """One visible warning for a sidecar a probe cannot use."""
    msg = str(exc)
    logging.getLogger(__name__).warning(
        "sidecar %s %s (%s: %s) — reads fall back to full scans",
        idx,
        what,
        type(exc).__name__,
        msg.splitlines()[0] if msg else "",
    )


def read_sidecar(
    spark: SparkSession, idx: str, schema: str | None = None
) -> DataFrame | None:
    """The parquet sidecar at ``idx`` as a frame, or None when there is
    no readable one. A missing sidecar — every un-indexed table — costs
    one existence check and no Spark read; one that exists but cannot
    be read logs a warning (warn_fallback). Either way the caller falls
    back to a full scan (or a rebuild), so the result stays exact."""
    if not fsio.fs_for(spark, idx).exists(idx):
        return None
    try:
        return (spark.read.schema(schema) if schema else spark.read).parquet(idx)
    except Exception as exc:
        warn_fallback(idx, "unreadable", exc)
        return None


def _index_dir(table_path: str) -> str:
    return f"{table_path.rstrip('/')}/.zonemap"


def _norm(uri: str) -> str:
    """file:///a, file:/a and /a all name the same local path."""
    parsed = urlparse(uri)
    return parsed.path if parsed.scheme else uri


def build_zonemap(
    spark: SparkSession,
    table_path: str,
    columns: list[str],
    index_dir: str | None = None,
) -> None:
    """(Re)build the zone-map sidecar for ``columns``.

    One distributed scan reading only the indexed columns; output is
    one row per data file: ``file_uri, n_rows, min_<c>, max_<c> ...``.
    Written with overwrite into a dot-dir, which every table reader
    skips, so the index never shadows table data.
    """
    # Only the conf + the frame — no file-map here (the inputFiles()
    # enumeration _resolve_table does would be a wasted full listing
    # on every index build).
    spark.conf.set(
        "spark.sql.sources.partitionColumnTypeInference.enabled", "false"
    )
    df = spark.read.option("mergeSchema", "true").parquet(table_path)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in columns:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    stats = (
        df.select(*columns)
        .withColumn(_FILE, F.input_file_name())
        .groupBy(_FILE)
        .agg(*aggs)
    )
    # A handful of KB: one output file keeps the read side a single
    # footer fetch.
    stats.coalesce(1).write.mode("overwrite").parquet(
        index_dir or _index_dir(table_path)
    )


def zonemap_stats(spark: SparkSession, table_path: str, index_dir: str | None = None) -> DataFrame:
    return spark.read.parquet(index_dir or _index_dir(table_path))


def _zone_intersects(col: str, lo, hi) -> F.Column:
    """Zone [min_c, max_c] can contain a value in [lo, hi] (either
    bound may be None = unbounded). NULL min/max (all-null zone) make
    the conjunction NULL → filtered out → file skipped, which is safe
    for range predicates (see module docstring)."""
    cond = F.lit(True)
    if lo is not None:
        cond = cond & (F.col(f"max_{col}") >= F.lit(lo))
    if hi is not None:
        cond = cond & (F.col(f"min_{col}") <= F.lit(hi))
    return cond


def _resolve_table(spark: SparkSession, table_path: str):
    """One listing+schema resolution of the table: the ONE source of
    the live file set and full schema for every zoned read, count and
    reconcile (a second resolution would double the metadata cost the
    index exists to avoid). Partition values must round-trip as the
    strings the layout encodes — mirror KeyedTable.read().

    Memoized per (path, commit token) in the KeyedTable read-plan
    cache: the token is rewritten as the last metadata step of every
    live-tree mutation BEFORE any maintenance/probe can observe the
    new tree, so a hit always describes the current committed
    snapshot; token-less and non-local paths resolve fresh every call
    (see upsert.resolve_cache_entry). Concurrent callers — the zone-map
    and bloom reconciles of one commit — share one resolution
    (upsert.cache_fill). A schema the last commit handed off replaces
    the footer sweep. Metadata only — the frame still reads its
    parquet files on every action."""
    from rds_to_datalake_project_spark.operators.upsert import (
        cache_fill,
        handed_off_schema,
        resolve_cache_entry,
    )

    ent = resolve_cache_entry(spark, table_path)

    def build():
        spark.conf.set(
            "spark.sql.sources.partitionColumnTypeInference.enabled", "false"
        )
        schema = handed_off_schema(ent)
        reader = (
            spark.read.schema(schema)
            if schema is not None
            else spark.read.option("mergeSchema", "true")
        )
        full = reader.parquet(table_path)
        return (full, {_norm(f): f for f in full.inputFiles()})

    return cache_fill(ent, "zresolve", build)


def sidecar_memo(spark: SparkSession, table_path: str, idx: str, load):
    """Driver-held copy of a small sidecar's collected contents:
    ``load()``'s result, reused across probes until the sidecar
    changes, or None when it cannot be memoized (the caller then runs
    its in-Spark path).

    The memo lives in the table's ``resolve_cache_entry`` slot, so it
    has the plan cache's eligibility (local, token-bearing tables) and
    is dropped on every commit-token change. Inside the slot it is
    keyed on the sidecar directory's listing — name, length and mtime
    of every non-hidden file in it (part files and markers such as the
    bloom's ``_PARAMS``): maintenance hooks rewrite a sidecar AFTER the
    token bump, and every ``mode("overwrite")`` writes fresh part-file
    names, so a rewritten sidecar never serves from a stale entry.
    Only a sidecar whose on-disk size is within
    ``spark.sql.autoBroadcastJoinThreshold`` — Spark's own bound on
    what is small enough to collect and ship — is memoized; larger
    ones stay on the in-Spark path. A failing load is logged and
    memoized as None for that listing (one warning, not one per
    probe)."""
    from rds_to_datalake_project_spark.operators.upsert import (
        resolve_cache_entry,
    )

    if not fsio.is_local(idx):
        return None
    ent = resolve_cache_entry(spark, table_path)
    if ent is None:
        return None
    try:
        listing = tuple(
            sorted(
                (s.getPath().getName(), s.getLen(), s.getModificationTime())
                for s in fsio.fs_for(spark, idx).listStatus(idx)
                if not s.getPath().getName().startswith(".")
            )
        )
    except OSError:
        return None  # no sidecar: the caller's own path handles it
    limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    if sum(size for _name, size, _mtime in listing) > limit:
        return None
    slot = ("sidecar", os.path.normpath(idx))
    hit = ent["frames"].get(slot)
    if hit is not None and hit[0] == listing:
        return hit[1]
    try:
        value = load()
    except Exception as exc:
        msg = str(exc)
        logging.getLogger(__name__).warning(
            "sidecar %s could not be loaded into the driver memo (%s: %s)"
            " — probes use the in-Spark path until it is rewritten",
            idx,
            type(exc).__name__,
            msg.splitlines()[0] if msg else "",
        )
        value = None
    ent["frames"][slot] = (listing, value)
    return value


def _spark_order(v):
    """Sort key following Spark's ordering of doubles: NaN is larger
    than every other value (and equal to itself)."""
    if isinstance(v, float) and math.isnan(v):
        return (1, 0.0)
    return (0, v)


def zone_overlaps(zlo, zhi, lo, hi) -> bool:
    """Driver-side zone test: False only when the zone ``[zlo, zhi]``
    provably misses ``[lo, hi]`` (either bound None = unbounded) in
    Spark's ordering. An all-NULL zone (``zlo``/``zhi`` None) misses
    every bound, as in _zone_intersects. NaN sorts above every double,
    so a zone whose max is NaN still holds 5.0. A comparison between
    different Python types — where Spark would coerce and Python would
    compare exactly, or raise — keeps the file: the residual filter
    decides."""
    if zlo is None or zhi is None:
        return False
    try:
        if lo is not None:
            if type(lo) is not type(zhi):
                return True
            if _spark_order(zhi) < _spark_order(lo):
                return False
        if hi is not None:
            if type(hi) is not type(zlo):
                return True
            if _spark_order(hi) < _spark_order(zlo):
                return False
    except (TypeError, ArithmeticError):  # unorderable: let Spark decide
        return True
    return True


def _plan_zoned_read(
    spark: SparkSession,
    table_path: str,
    predicates: dict[str, tuple],
    index_dir: str | None = None,
    _resolved=None,
):
    """Shared planner: ``(files_to_read, n_skipped, full)``.

    The live set and the full-table schema come from _resolve_table
    (one resolution per commit token); ONE collect of ``(file, kept)``
    pairs resolves the whole index — the kept flag and the indexed set
    come from the same pass."""
    full, live = _resolved or _resolve_table(spark, table_path)
    stats = read_sidecar(spark, index_dir or _index_dir(table_path))
    if stats is None:
        return sorted(live.values()), 0, full  # no index → full scan

    cond = F.lit(True)
    for col, (lo, hi) in predicates.items():
        if f"min_{col}" in stats.columns and f"max_{col}" in stats.columns:
            cond = cond & _zone_intersects(col, lo, hi)
    rows = stats.select(F.col(_FILE), cond.alias("__kept")).collect()
    indexed = {_norm(r[0]) for r in rows}
    kept = {_norm(r[0]) for r in rows if r[1]}
    files = [
        orig
        for path, orig in sorted(live.items())
        if path not in indexed or path in kept
    ]
    _record_prune(LAST_PRUNE, len(live), len(files))
    return files, len(live) - len(files), full


def prune_files(
    spark: SparkSession,
    table_path: str,
    predicates: dict[str, tuple],
    index_dir: str | None = None,
    _resolved=None,
) -> tuple[list[str], int]:
    """Resolve the file list for a zoned read.

    Returns ``(files_to_read, n_skipped)``. Files not covered by the
    index are unconditionally included, and predicates on columns the
    index does not cover contribute NO pruning (advisory contract —
    the residual filter still applies them); indexed files are
    included iff every covered predicate interval intersects their
    zone. Paths come back in Spark-readable form.
    """
    files, skipped, _full = _plan_zoned_read(
        spark, table_path, predicates, index_dir, _resolved
    )
    return files, skipped


def zone_intervals(
    spark: SparkSession,
    table_path: str,
    col: str,
    index_dir: str | None = None,
) -> dict | None:
    """Per-file ``{normalized path: (min, max)}`` zones for ``col``,
    or None when the index (or the column's zones) is missing. ONE
    sidecar read; batched point-lookup planners
    (KeyedTable.lookup_many) evaluate many point predicates against
    it driver-side instead of re-aggregating the sidecar per key.
    (None, None) zones mean the file holds only NULLs in ``col`` —
    skippable for equality/range probes, same as _zone_intersects.
    Test a zone with zone_overlaps. On a memo-eligible table the
    collected zones of every indexed column are kept in the driver
    (see sidecar_memo), so repeat probes read no sidecar at all."""
    idx = index_dir or _index_dir(table_path)
    zones = sidecar_memo(spark, table_path, idx, lambda: _load_zones(spark, idx))
    if zones is None:
        zones = _load_zones(spark, idx)
    return zones.get(col)


def _load_zones(spark: SparkSession, idx: str) -> dict:
    """``{col: {normalized path: (min, max)}}`` for every indexed
    column, from one collect of the sidecar; empty without one."""
    stats = read_sidecar(spark, idx)
    if stats is None:
        return {}
    names = set(stats.columns)
    cols = [c[4:] for c in names if c.startswith("min_") and f"max_{c[4:]}" in names]
    rows = stats.collect() if cols else []
    return {
        c: {_norm(r[_FILE]): (r[f"min_{c}"], r[f"max_{c}"]) for r in rows}
        for c in cols
    }


def pruned_read(
    spark: SparkSession,
    table_path: str,
    predicates: dict[str, tuple],
    index_dir: str | None = None,
) -> DataFrame:
    """Read ``table_path`` rows satisfying ``predicates`` (col →
    (lo, hi) inclusive bounds, None = unbounded), opening only files
    whose zones can match. The residual predicate is still applied —
    zones over-approximate — so the result is EXACTLY the full-scan
    filter, independent of index state."""
    residual = F.lit(True)
    for col, (lo, hi) in predicates.items():
        if lo is not None:
            residual = residual & (F.col(col) >= F.lit(lo))
        if hi is not None:
            residual = residual & (F.col(col) <= F.lit(hi))

    files, _skipped, full = _plan_zoned_read(
        spark, table_path, predicates, index_dir
    )
    if not files:
        return full.filter(residual).limit(0)
    # Merge-on-read deletes: committed deletion vectors mask their
    # victims on every pruned read too (passthrough when the table has
    # none). Imported lazily — deletevectors imports helpers from this
    # module.
    from rds_to_datalake_project_spark.operators.deletevectors import (
        mask_deleted,
    )

    # basePath keeps hive partition columns alive when reading leaf
    # files directly — without it every partition column reads NULL.
    # The full-table schema, not a merge over the pruned files: after
    # schema evolution a pruned subset of old files can lack a column
    # the table surfaces as NULL, and the residual would not resolve.
    reader = spark.read.option("basePath", table_path).schema(full.schema)
    return mask_deleted(spark, table_path, reader.parquet(*files)).filter(residual)


def refresh_zonemap(
    spark: SparkSession,
    table_path: str,
    columns: list[str],
    index_dir: str | None = None,
) -> tuple[int, int]:
    """Incrementally reconcile the index with the live file set.

    Returns ``(n_added, n_dropped)``. Index rows for files no longer
    live are dropped; files the index has never seen are scanned
    (ONLY those files, column-pruned) and appended — so the
    post-upsert maintenance cost is proportional to the touched
    files, not the table. A column-set change or a missing or
    unreadable index falls back to a full build; an emptied table
    drops the index. Correctness never depends on this running
    (advisory contract) — it restores pruning EFFECTIVENESS after the
    live set changes.
    """
    idx = index_dir or _index_dir(table_path)
    try:
        full, live = _resolve_table(spark, table_path)
    except Exception:
        live = {}
    if not live:
        # emptied table: no files to describe
        stats = read_sidecar(spark, idx)
        n = stats.count() if stats is not None else 0
        fsio.fs_for(spark, idx).delete(idx, True)
        return (0, n)
    stats = read_sidecar(spark, idx)
    want = (
        {_FILE, "n_rows"}
        | {f"min_{c}" for c in columns}
        | {f"max_{c}" for c in columns}
    )
    if stats is None or set(stats.columns) != want:
        build_zonemap(spark, table_path, columns, idx)
        return (len(live), 0)

    indexed = {_norm(r[0]): r[0] for r in stats.select(_FILE).collect()}
    new = [orig for p, orig in sorted(live.items()) if p not in indexed]
    stale = [orig for p, orig in sorted(indexed.items()) if p not in live]
    if not new and not stale:
        return (0, 0)  # index already matches the live set
    kept = stats.filter(~F.col(_FILE).isin(stale)) if stale else stats
    if new:
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        for c in columns:
            aggs.append(F.min(c).alias(f"min_{c}"))
            aggs.append(F.max(c).alias(f"max_{c}"))
        # basePath: an indexed column may BE a hive partition column —
        # reading leaf files without it would record all-NULL zones
        # and pruned_read would then skip live matches (row loss).
        fresh = (
            spark.read.schema(full.schema)
            .option("basePath", table_path)
            .parquet(*new)
            .select(*columns)
            .withColumn(_FILE, F.input_file_name())
            .groupBy(_FILE)
            .agg(*aggs)
        )
        kept = kept.unionByName(fresh.select(*stats.columns))
    # The new index is derived from the old one lazily — materialize
    # before overwriting the directory it reads from.
    out = kept.localCheckpoint(eager=True)
    out.coalesce(1).write.mode("overwrite").parquet(idx)
    return (len(new), len(stale))


def fast_count(spark: SparkSession, table_path: str, index_dir: str | None = None) -> int:
    """Metadata-backed row count (Delta's SELECT COUNT(*) shortcut):
    indexed live files are counted from the sidecar's ``n_rows`` —
    zero data reads — and only files the index has never seen are
    scanned. Exact under the advisory contract: stale index rows
    (files gone) are ignored via the live-set intersection, unindexed
    files fall back to a real (column-less, footer-only) count. The
    live set is _resolve_table's, one resolution per commit token.
    Committed deletion vectors mask rows the file counts still hold,
    so a table with any counts its masked live read instead."""
    from rds_to_datalake_project_spark.operators import deletevectors as dv

    full, live = _resolve_table(spark, table_path)
    if dv.has_vectors(spark, table_path):
        return dv.mask_deleted(spark, table_path, full).count()
    stats = read_sidecar(spark, index_dir or _index_dir(table_path))
    rows = stats.select(_FILE, "n_rows").collect() if stats is not None else []
    indexed = {_norm(r[0]): r[1] for r in rows}
    total = sum(n for p, n in indexed.items() if p in live)
    unindexed = [orig for p, orig in live.items() if p not in indexed]
    if unindexed:
        total += (
            spark.read.schema(full.schema)
            .option("basePath", table_path)
            .parquet(*unindexed)
            .count()
        )
    return int(total)
