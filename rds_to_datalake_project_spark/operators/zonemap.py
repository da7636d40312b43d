"""Zone maps — per-file min/max statistics for scan-time file skipping.

What Delta/Iceberg keep with each file's log entry (SURVEY.md §4:
"file-skipping by min/max stats"), read here from the parquet footer
every data file already carries. A range or point read hands Spark only
the files whose [min, max] zones intersect the predicate; parquet
row-group stats still prune within each opened file. Clustering
(operators/compact.py ``cluster_by``) makes zones tight.

- Which columns are zone-mapped is table metadata: a JSON list at
  ``<table>/.zonemap/_COLUMNS``, written by ``build_zonemap`` and by a
  KeyedTable whose ``zonemap_columns=`` it does not list yet (no Spark
  job), read once per commit token. A legacy ``.zonemap`` sidecar
  without the list takes its columns from its ``min_*`` fields.
  Predicates on other columns prune nothing.
- A driver-side footer cache keyed on (path, size, mtime), behind a
  lock and a size bound, is filled by ``pyarrow.parquet.read_metadata``
  for files it has not seen; row groups fold into one zone per file.
  No commit maintains anything: a file's stats are written with it.
- Zone values are what Spark's ``min``/``max`` collect returns:
  strings, ints, longs and doubles as stored (NaN is a double's max, as
  in Spark's order), decimals from unscaled integer and scale, dates
  and ``TIMESTAMP_MICROS`` timestamps (the session default, see
  session.get_spark) via ``fromInternal``. A hive partition column's
  zone is its path value. ``tests/test_zonemap_footers.py`` pins each
  type against Spark's own per-file aggregates.

ADVISORY, so every read is exactly the full-scan filter:

- The live file set and full schema come from the table itself
  (_resolve_table, once per commit token); zones only say which of
  those files a predicate can skip.
- A file has no zone on a column, and is always read, when a row group
  lacks statistics, when the type is not one of the above (float,
  INT96, boolean, binary, nested ...), when its footer is unreadable
  (one warning per file) or on a scheme other than local or ``file:``.
- A column that is all NULL in a file, or missing from a file older
  than the schema evolution that added it, has the zone (None, None),
  which no range matches: a comparison with NULL is never true.
- Range reads evaluate bounds by Spark expressions over a local frame
  of the zones (its collect runs no job), so coercion matches the main
  scan's. Driver-planned point probes (lookup, lookup_many, matview
  recompute scans) use zone_overlaps, which follows Spark's order and
  keeps a file wherever Python and Spark could disagree.
"""

from __future__ import annotations

import datetime
import json
import logging
import math
import os
import re
import threading
from decimal import Decimal
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rds_to_datalake_project_spark import fsio

_FILE = "file_uri"
_COLUMNS = "_COLUMNS"

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
    """One visible warning for index metadata a probe cannot use."""
    msg = str(exc)
    logging.getLogger(__name__).warning(
        "%s %s (%s: %s) — reads fall back to full scans",
        idx,
        what,
        type(exc).__name__,
        msg.splitlines()[0] if msg else "",
    )


def _index_dir(table_path: str) -> str:
    return f"{table_path.rstrip('/')}/.zonemap"


def _norm(uri: str) -> str:
    """file:///a, file:/a and /a all name the same local path."""
    parsed = urlparse(uri)
    return parsed.path if parsed.scheme else uri


def _local_file(uri: str) -> str | None:
    """The OS path of a plain or ``file:`` path, None on other schemes."""
    parsed = urlparse(uri)
    if not parsed.scheme:
        return uri
    return unquote(parsed.path) if parsed.scheme == "file" else None


# -- the zone-mapped column list --------------------------------------------


def _read_columns(spark: SparkSession, idx: str) -> list[str]:
    """The recorded column list; a legacy sidecar's ``min_*`` columns;
    else none."""
    txt = fsio.read_text(spark, f"{idx}/{_COLUMNS}")
    if txt is not None:
        try:
            return [str(c) for c in json.loads(txt)]
        except (ValueError, TypeError) as exc:
            warn_fallback(idx, "column list unreadable", exc)
            return []
    local = _local_file(idx)
    if local is None or not os.path.isdir(local):
        return []
    import pyarrow.parquet as pq

    try:
        part = min(
            n for n in os.listdir(local)
            if n.endswith(".parquet") and not n.startswith((".", "_"))
        )
        names = pq.read_schema(os.path.join(local, part)).names
    except Exception as exc:
        warn_fallback(idx, "unreadable", exc)
        return []
    return [n[4:] for n in names if n.startswith("min_") and f"max_{n[4:]}" in names]


def zoned_columns(
    spark: SparkSession, table_path: str, index_dir: str | None = None
) -> list[str]:
    """The table's zone-mapped columns, read once per commit token
    (upsert.resolve_cache_entry)."""
    from rds_to_datalake_project_spark.operators.upsert import (
        cache_fill,
        resolve_cache_entry,
    )

    idx = index_dir or _index_dir(table_path)
    ent = resolve_cache_entry(spark, table_path)
    return cache_fill(ent, ("zcolumns", idx), lambda: _read_columns(spark, idx))


def _write_columns(
    spark: SparkSession, table_path: str, idx: str, columns: list[str]
) -> None:
    """Replace the sidecar directory by the column list alone (legacy
    part files describe nothing any more) and forget the memoized list."""
    from rds_to_datalake_project_spark.operators.upsert import (
        resolve_cache_entry,
    )

    fs = fsio.fs_for(spark, idx)
    fs.delete(idx, True)
    fs.publish_text(f"{idx}/{_COLUMNS}", json.dumps(columns))
    ent = resolve_cache_entry(spark, table_path)
    if ent is not None:
        ent["frames"].pop(("zcolumns", idx), None)


def build_zonemap(
    spark: SparkSession,
    table_path: str,
    columns: list[str],
    index_dir: str | None = None,
) -> None:
    """Zone-map exactly ``columns``: record them as the table's column
    list, replacing an earlier list or a legacy sidecar. Runs no Spark
    job — the zones are the data files' own footer statistics."""
    _write_columns(spark, table_path, index_dir or _index_dir(table_path), list(columns))


def _add_columns(spark, table_path: str, columns, index_dir=None) -> list[str]:
    """Make sure the column list includes ``columns``; returns the ones
    it added."""
    idx = index_dir or _index_dir(table_path)
    have = zoned_columns(spark, table_path, idx)
    added = [c for c in dict.fromkeys(columns) if c not in have]
    if added:
        _write_columns(spark, table_path, idx, have + added)
    return added


def refresh_zonemap(
    spark: SparkSession, table_path: str, columns: list[str], index_dir: str | None = None
) -> list[str]:
    """``_add_columns``, by its old name. New files carry their own
    footer stats, so no commit calls it: a KeyedTable with
    ``zonemap_columns=`` lists its columns itself."""
    return _add_columns(spark, table_path, columns, index_dir)


# -- the footer cache ---------------------------------------------------------

# {(local path, size, mtime_ns): (num_rows, {lower-cased column: zone})
#  or None when the footer is unreadable}. A zone is (min, max), (None,
# None) when all NULL, or None for no zone; a column the file lacks is
# absent (Spark reads it as NULL). Cleared whole at the bound.
_FOOTERS: dict = {}
_FOOTERS_MAX = 65536
_FOOTERS_LOCK = threading.Lock()

# The Python type of every covered Spark type's values; the footer
# values of any other type never prune.
_ZONE_TYPES = {
    T.StringType: str,
    T.IntegerType: int,
    T.LongType: int,
    T.DoubleType: float,
    T.DecimalType: Decimal,
    T.DateType: datetime.date,
    T.TimestampType: datetime.datetime,
}


def _converter(col):
    """``raw footer statistic -> value as Spark collects it`` for one
    parquet leaf column, or None when its type is not covered."""
    phys, logical = col.physical_type, col.logical_type.type
    if phys == "BYTE_ARRAY" and logical == "STRING":
        return lambda raw: raw.decode("utf-8")
    if phys in ("INT32", "INT64") and logical == "NONE":
        return int
    if phys == "DOUBLE" and logical == "NONE":
        return float
    if logical == "DECIMAL" and phys in ("INT32", "INT64", "FIXED_LEN_BYTE_ARRAY"):
        scale = col.scale

        def decimal(raw):
            if isinstance(raw, bytes):
                raw = int.from_bytes(raw, "big", signed=True)
            return Decimal(f"{raw}E-{scale}")

        return decimal
    if phys == "INT32" and logical == "DATE":
        return T.DateType().fromInternal
    if phys == "INT64" and logical == "TIMESTAMP":
        unit = json.loads(col.logical_type.to_json())
        if unit.get("isAdjustedToUTC") and unit.get("timeUnit") == "microseconds":
            return T.TimestampType().fromInternal
    return None


def _column_zone(md, i: int, convert):
    """One column's zone folded over every row group of a footer."""
    if convert is None:
        return None
    lo = hi = None
    for g in range(md.num_row_groups):
        group = md.row_group(g)
        st = group.column(i).statistics
        if st is None:
            return None
        if not st.has_min_max:
            if st.has_null_count and st.null_count == group.num_rows:
                continue  # all NULL in this group
            return None
        a, b = convert(st.min_raw), convert(st.max_raw)
        lo = a if lo is None or _spark_order(a) < _spark_order(lo) else lo
        hi = b if hi is None or _spark_order(b) > _spark_order(hi) else hi
    return (lo, hi)


def _read_footer(local: str) -> tuple[int, dict]:
    """Zones of every top-level primitive column of one file (names
    that collide case-insensitively get none)."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(local)
    top = set(md.schema.to_arrow_schema().names)
    zones: dict = {}
    for i in range(md.num_columns):
        col = md.schema.column(i)
        if col.path in top:
            name = col.path.lower()
            zones[name] = None if name in zones else _column_zone(md, i, _converter(col))
    return md.num_rows, zones


def _footer(uri: str):
    """``(num_rows, zones)`` of one data file from the cache, or None
    when its footer cannot be read here."""
    local = _local_file(uri)
    if local is None:
        return None
    try:
        st = os.stat(local)
    except OSError:
        return None
    key = (local, st.st_size, st.st_mtime_ns)
    with _FOOTERS_LOCK:
        if key in _FOOTERS:
            return _FOOTERS[key]
    try:
        facts = _read_footer(local)
    except Exception as exc:
        warn_fallback(local, "footer unreadable", exc)
        facts = None
    with _FOOTERS_LOCK:
        if len(_FOOTERS) >= _FOOTERS_MAX:
            _FOOTERS.clear()
        _FOOTERS[key] = facts
    return facts


def _file_facts(spark: SparkSession, table_path: str, live: dict) -> dict:
    """``{normalized path: (num_rows, zones) | None}`` for every live
    file, memoized per commit token."""
    from rds_to_datalake_project_spark.operators.upsert import (
        cache_fill,
        resolve_cache_entry,
    )

    return cache_fill(
        resolve_cache_entry(spark, table_path),
        "zfacts",
        lambda: {p: _footer(orig) for p, orig in live.items()},
    )


def _unescape(v: str) -> str:
    """Spark's partition-path unescaping (%XX → the character)."""
    return re.sub("%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), v)


def _partition_values(base: str, uri: str) -> dict:
    """The hive ``k=v`` directory values between ``base`` and a file."""
    local = _local_file(uri) or _norm(uri)
    if not local.startswith(base + "/"):
        return {}
    out = {}
    for seg in local[len(base) + 1:].split("/")[:-1]:
        k, eq, v = seg.partition("=")
        if eq:
            out[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else _unescape(v)
    return out


def _column_zones(spark: SparkSession, table_path: str, full, live: dict, col: str) -> dict:
    """``{normalized path: (min, max)}`` of the live files with a zone
    on ``col``, memoized per commit token."""
    from rds_to_datalake_project_spark.operators.upsert import (
        cache_fill,
        resolve_cache_entry,
    )

    def build():
        if col not in full.columns:
            return {}
        dtype = full.schema[col].dataType
        want = _ZONE_TYPES.get(type(dtype))
        if want is None or getattr(dtype, "collation", "UTF8_BINARY") != "UTF8_BINARY":
            return {}
        facts = _file_facts(spark, table_path, live)
        base = (_local_file(table_path) or _norm(table_path)).rstrip("/")
        out = {}
        for p, orig in live.items():
            if facts.get(p) is None:
                continue
            part = _partition_values(base, orig)
            if col in part:
                zone = (part[col], part[col])
            else:
                zone = facts[p][1].get(col.lower(), (None, None))
            if zone is None:
                continue
            if zone[0] is not None and not (type(zone[0]) is want and type(zone[1]) is want):
                continue
            out[p] = zone
        return out

    return cache_fill(resolve_cache_entry(spark, table_path), ("zone", col), build)


def _frame(spark: SparkSession, rows: list, schema: T.StructType) -> DataFrame:
    """local_frame over zone rows. Zone timestamps are naive local
    times, as ``fromInternal`` returns them; the frame needs instants."""
    from rds_to_datalake_project_spark.functions.localrel import local_frame

    def instant(v):
        if isinstance(v, datetime.datetime) and v.tzinfo is None:
            return v.astimezone(datetime.timezone.utc)
        return v

    return local_frame(spark, [tuple(map(instant, r)) for r in rows], schema)


def zonemap_stats(spark: SparkSession, table_path: str, index_dir: str | None = None) -> DataFrame:
    """The zones as a frame in the old sidecar's layout: one row per
    live file with a readable footer — ``file_uri, n_rows`` and
    ``min_<c>, max_<c>`` per zone-mapped column (NULL where the file
    has no zone on ``c`` or only NULLs). Collecting it runs no job."""
    full, live = _resolve_table(spark, table_path)
    cols = [c for c in zoned_columns(spark, table_path, index_dir) if c in full.columns]
    facts = _file_facts(spark, table_path, live)
    zones = {c: _column_zones(spark, table_path, full, live, c) for c in cols}
    fields = [T.StructField(_FILE, T.StringType()), T.StructField("n_rows", T.LongType())]
    for c in cols:
        dtype = full.schema[c].dataType
        fields += [T.StructField(f"min_{c}", dtype), T.StructField(f"max_{c}", dtype)]
    rows = [
        (orig, facts[p][0], *[v for c in cols for v in zones[c].get(p, (None, None))])
        for p, orig in sorted(live.items())
        if facts.get(p) is not None
    ]
    return _frame(spark, rows, T.StructType(fields))


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
    sidecar reconcile (a second resolution would double the metadata
    cost the zones exist to avoid). Partition values must round-trip
    as the strings the layout encodes — mirror KeyedTable.read().

    Memoized per (path, commit token) in the KeyedTable read-plan
    cache: the token is rewritten as the last metadata step of every
    live-tree mutation BEFORE any maintenance/probe can observe the
    new tree, so a hit always describes the current committed
    snapshot; token-less and non-local paths resolve fresh every call
    (see upsert.resolve_cache_entry). Concurrent callers — a commit's
    services — share one resolution (upsert.cache_fill). A schema the
    last commit handed off replaces the footer sweep. Metadata only —
    the frame still reads its parquet files on every action."""
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
    """Driver-held copy of a small sidecar's collected contents (the
    bloom index's words): ``load()``'s result, reused across probes
    until the sidecar changes, or None when it cannot be memoized (the
    caller then runs its in-Spark path).

    The memo lives in the table's ``resolve_cache_entry`` slot (local,
    token-bearing tables; dropped on every commit-token change), keyed
    on the sidecar directory's listing — name, length and mtime of each
    non-hidden file — because services rewrite a sidecar AFTER the
    token bump. Only sidecars within
    ``spark.sql.autoBroadcastJoinThreshold`` are memoized. A failing
    load is logged and memoized as None for that listing."""
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
    (one resolution per commit token). Each predicate on a zone-mapped
    column collects ``(file, kept)`` pairs from a local frame of that
    column's zones; a file is skipped when any of them rules it out."""
    full, live = _resolved or _resolve_table(spark, table_path)
    cols = zoned_columns(spark, table_path, index_dir)
    if not cols:
        return sorted(live.values()), 0, full  # no zone map → full scan

    out: set = set()
    for col, (lo, hi) in predicates.items():
        if col not in cols:
            continue
        zones = _column_zones(spark, table_path, full, live, col)
        if not zones:
            continue
        dtype = full.schema[col].dataType
        schema = T.StructType([
            T.StructField(_FILE, T.StringType()),
            T.StructField(f"min_{col}", dtype),
            T.StructField(f"max_{col}", dtype),
        ])
        try:
            stats = _frame(spark, [(p, *z) for p, z in zones.items()], schema)
            rows = stats.select(F.col(_FILE), _zone_intersects(col, lo, hi)).collect()
        except Exception as exc:
            warn_fallback(_index_dir(table_path), f"zones of {col} unusable", exc)
            continue
        out.update(r[0] for r in rows if not r[1])
    files = [orig for path, orig in sorted(live.items()) if path not in out]
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

    Returns ``(files_to_read, n_skipped)``. Files without a zone are
    unconditionally included, and predicates on columns that are not
    zone-mapped contribute NO pruning (advisory contract — the
    residual filter still applies them); other files are included iff
    every covered predicate interval intersects their zone. Paths come
    back in Spark-readable form.
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
    or None when ``col`` is not zone-mapped. Batched point-lookup
    planners (KeyedTable.lookup_many) evaluate many point predicates
    against it driver-side. (None, None) zones mean the file holds
    only NULLs in ``col`` — skippable for equality/range probes, same
    as _zone_intersects; files without a zone are absent. Test a zone
    with zone_overlaps. Memoized per commit token, so repeat probes
    read no footer and run no Spark job."""
    if col not in zoned_columns(spark, table_path, index_dir):
        return None
    full, live = _resolve_table(spark, table_path)
    return _column_zones(spark, table_path, full, live, col)


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
    filter, independent of zone state."""
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


def fast_count(spark: SparkSession, table_path: str) -> int:
    """Metadata-backed row count (Delta's SELECT COUNT(*) shortcut):
    live files are counted from their footers' ``num_rows`` — zero
    data reads — and only files whose footer cannot be read here are
    scanned (a column-less, footer-only Spark count). The live set is
    _resolve_table's, one resolution per commit token. Committed
    deletion vectors mask rows the file counts still hold, so a table
    with any counts its masked live read instead."""
    from rds_to_datalake_project_spark.operators import deletevectors as dv

    full, live = _resolve_table(spark, table_path)
    if dv.has_vectors(spark, table_path):
        return dv.mask_deleted(spark, table_path, full).count()
    facts = _file_facts(spark, table_path, live)
    total = sum(f[0] for f in facts.values() if f is not None)
    unread = [orig for p, orig in live.items() if facts.get(p) is None]
    if unread:
        total += (
            spark.read.schema(full.schema)
            .option("basePath", table_path)
            .parquet(*unread)
            .count()
        )
    return int(total)
