"""Row-level secondary index — point lookups on a NON-key column as a
TABLE SERVICE.

The zone map and bloom sidecars (operators/zonemap.py, bloomfilter.py)
prune point reads on the RECORD KEY — the column the table is
physically clustered on. Queries that probe any other column
(``WHERE o_custkey = 42`` on an orderkey-keyed table) get no help:
value ranges per file span the whole domain, so every file survives
zone pruning and the scan is a full pass. The reference has the same
hole — its Athena consumers full-scan on non-key predicates
(/root/reference/rds_to_datalake/athena.py:67-87 runs arbitrary SQL).

This sidecar persists the value→record-key mapping itself, in one of
two layouts:

- EQUALITY layout (``<table>/.secindex_<col>``): ``entries`` rows of
  ``bucket`` (md5 of the value, mod 256, STRING — hive partition),
  the indexed value, and the record key. A lookup maps its probe
  values to buckets, so the entries scan prunes to ≤ |values|
  partition directories and pushes the value IN-filter into parquet —
  index I/O ∝ the probed values' entry lists, never the corpus.
- RANGE layout (``<table>/.secrange_<col>``): same entries but
  hive-partitioned by a VALUE BAND — a fixed affine binning
  ``floor((double(v) − lo) / width)`` on an UNBOUNDED grid, with
  (lo, width) frozen at build time in ``_PARAMS`` so every later
  delta bands identically. A ``BETWEEN`` probe prunes to the bands
  overlapping [lo, hi]; values beyond the build-time domain open NEW
  bands rather than piling into a clamped edge, so a monotone-growing
  column stays sharply pruned forever with no rebuilds. This is the
  reference's actual secondary-index shape: its only declared index
  is ``Index("idx_create_at", "create_at")`` on an ever-advancing
  timestamp (db_orm.py:45-48), i.e. recent-window range scans.

Probe buckets/bands are computed by evaluating the SAME Spark
expression the entries writer used, over the literal probe values —
never a Python reimplementation (str(v) and CAST(v AS STRING) render
booleans, scientific doubles, and decimals differently, which would
silently probe the wrong bucket and break the exactness contract).

Both layouts are one ``entries`` delta family in the sidecar
lifecycle (operators/sidecar.py): a commit's entries land as a delta
with a record-key tombstone, so a re-keyed value (the row moved to a
different indexed value) retires its old entry logically.

Serving composes with the key-side indexes: the secondary index
resolves probe values to record keys (a driver-side collect, bounded
by the probe's selectivity), then ``KeyedTable.lookup_many`` fetches
the rows through zone∩bloom file pruning — so a non-key point read
touches the value's entry list plus the candidate files only.

Exactness contract: results equal the plain filter — which holds ONLY
while the index is at the table head. Unlike zone/bloom (whose
staleness still yields exact results via the residual filter), a
stale secondary index WOULD return wrong rows, so lookups refuse to
serve when the indexed version lags the head (e.g. after a swallowed
maintenance-hook failure), mirroring the torn-index refusal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rds_to_datalake_project_spark.operators.sidecar import (
    DEFAULT_COMPACT_THRESHOLD,
    Delta,
    Part,
    Sidecar,
    consistent,
    head_version,
    publish_build,
    read_family,
    read_params,
    refresh,
)
from rds_to_datalake_project_spark.operators.upsert import KeyedTable

N_BUCKETS = 256

# Diagnostics: cumulative bucket-pruning verdicts since reset —
# bench.py reports these as the index's I/O-avoided metric (wall time
# at sf0.1 cannot show what directory pruning buys at 100×).
LAST_PROBE: dict = {}


def reset_probe_stats() -> None:
    LAST_PROBE.clear()


def _idir(table: KeyedTable, col: str) -> str:
    return f"{table.path.rstrip('/')}/.secindex_{col}"


def _rdir(table: KeyedTable, col: str) -> str:
    return f"{table.path.rstrip('/')}/.secrange_{col}"


def _bucket_col(value) -> F.Column:
    return (
        F.conv(
            F.substring(F.md5(value.cast("string").cast("binary")), 1, 15), 16, 10
        ).cast("long")
        % N_BUCKETS
    ).cast("int")


def _spark_eval(spark, values: list, expr_fn) -> list:
    """Evaluate ``expr_fn(lit(v))`` for each probe value as one-row
    jobs — the canonical way to map probe values to buckets/bands: the
    exact expression the entries writer ran, so the rendering
    (booleans, scientific doubles, decimals) can never diverge the way
    a Python ``str(v)`` twin would. The caller owns any cast inside
    ``expr_fn`` (equality canonicalizes to the COLUMN dtype; range
    banding must NOT narrow the literal — cast(10.5 AS BIGINT)
    truncates and would undershoot the probed band interval). Chunked
    so a wide IN-probe never builds a pathologically wide projection
    (one Spark column per value)."""
    out: list = []
    chunk = 500
    for i0 in range(0, len(values), chunk):
        cols = [
            expr_fn(F.lit(v)).alias(f"_p{i}")
            for i, v in enumerate(values[i0 : i0 + chunk])
        ]
        out.extend(spark.range(1).select(*cols).collect()[0])
    return out


def _require_fresh(table: KeyedTable, state, value_col: str, layout: str) -> None:
    """A secondary index that lags the table head serves WRONG rows
    (its exactness is not advisory) — refuse, mirroring the torn-index
    refusal. Zone/bloom may serve stale because their residual filter
    re-checks; here the probed value's entry list itself is the
    answer set."""
    latest = head_version(table)
    if state.version < latest:
        raise ValueError(
            f"secondary {layout} index on {value_col!r} is STALE "
            f"(indexed v{state.version}, table head v{latest}) — lookups would "
            "return wrong rows; refresh the index first (a swallowed "
            "maintenance-hook failure leaves it lagging: see "
            "last_maintenance_errors)"
        )


def entries_of(df: DataFrame, value_col: str, key_col: str) -> DataFrame:
    """``(bucket, <value_col>, <key_col>)`` index entries — one
    map-side projection, nulls excluded (SQL point predicates never
    match null anyway)."""
    return df.filter(F.col(value_col).isNotNull()).select(
        _bucket_col(F.col(value_col)).cast("string").alias("bucket"),
        value_col,
        key_col,
    )


def _sidecar(index_dir: str, table: KeyedTable, value_col: str, **frozen) -> Sidecar:
    params = {"value_col": value_col, "key_col": table.spec.record_key[0], **frozen}
    return Sidecar(index_dir, families=("entries",), params=params)


def _refresh(
    table: KeyedTable, value_col: str, index_dir: str, build, entries, part_col: str,
    compact_threshold: int,
) -> str:
    """Either layout's refresh: the change window's entries (banded
    with the params the build stored) as one ``entries`` delta."""
    key_col = table.spec.record_key[0]
    return refresh(
        table,
        _sidecar(index_dir, table, value_col),
        build,
        lambda w: [Delta(
            "entries", entries(w.upserts, w.params), w.changes.select(key_col),
            key_col, [part_col],
        )],
        compact_threshold,
    )[0]


def build_secondary_index(table: KeyedTable, value_col: str) -> None:
    """Full (re)build over the current snapshot, hive-partitioned by
    value bucket for directory-level pruning at probe time."""
    version = head_version(table)
    rows = entries_of(table.read(), value_col, table.spec.record_key[0])
    publish_build(
        table.spark, _sidecar(_idir(table, value_col), table, value_col), version,
        [Part("entries", rows, partition_by=["bucket"])],
    )


def refresh_secondary_index(
    table: KeyedTable,
    value_col: str,
    compact_threshold: int = DEFAULT_COMPACT_THRESHOLD,
) -> str:
    """Advance the index to the table's latest commit by publishing
    the change window as a delta (fresh entries + record-key
    tombstone). Returns ``"noop" | "incremental" | "rebuild"``."""
    key_col = table.spec.record_key[0]
    return _refresh(
        table, value_col, _idir(table, value_col),
        lambda: build_secondary_index(table, value_col),
        lambda rows, _params: entries_of(rows, value_col, key_col),
        "bucket", compact_threshold,
    )


def attach_secondary_index_maintenance(table: KeyedTable, value_col: str) -> None:
    """Enroll the index in the post-commit maintenance slot."""
    table.add_maintenance_hook(lambda t: refresh_secondary_index(t, value_col))


def secondary_lookup_keys(
    table: KeyedTable, value_col: str, values: list
) -> DataFrame:
    """Record keys whose ``value_col`` is in ``values`` — served from
    the index alone: the probe's buckets prune partition dirs, the IN
    filter pushes into the entries scan. Raises when the sidecar is
    missing/torn (a lookup never silently degrades to a table scan)."""
    if not values:
        raise ValueError("values must be non-empty")
    spark = table.spark
    key_col = table.spec.record_key[0]
    state = consistent(spark, _idir(table, value_col), families=("entries",))
    if state is None:
        raise ValueError(
            f"secondary index on {value_col!r} missing or torn — "
            "build_secondary_index first"
        )
    _require_fresh(table, state, value_col, "equality")
    # dtype from the TABLE schema (plan-cached — no sidecar listing):
    # the entries part stores value_col verbatim, so the cast target
    # is identical to reading it off the entries schema.
    dtype = table.read().schema[value_col].dataType
    buckets = sorted(
        {
            str(b)
            for b in _spark_eval(
                spark, values, lambda c: _bucket_col(c.cast(dtype))
            )
        }
    )
    # Buckets FIRST so the entries read lists only the probed bucket
    # dirs (read_family partition_filter) — the bucket IN residual
    # below still applies, so pruning stays advisory.
    entries = read_family(
        spark,
        _idir(table, value_col),
        "entries",
        key_col,
        gens=state.gens["entries"],
        partition_filter=("bucket", buckets),
    )
    LAST_PROBE["probes"] = LAST_PROBE.get("probes", 0) + 1
    LAST_PROBE["buckets_total"] = LAST_PROBE.get("buckets_total", 0) + N_BUCKETS
    LAST_PROBE["buckets_probed"] = LAST_PROBE.get("buckets_probed", 0) + len(
        buckets
    )
    LAST_PROBE["buckets_skipped"] = (
        LAST_PROBE["buckets_total"] - LAST_PROBE["buckets_probed"]
    )
    return (
        entries.filter(
            F.col("bucket").isin(buckets) & F.col(value_col).isin(values)
        )
        .select(key_col)
        .distinct()
    )


def secondary_lookup(
    table: KeyedTable, value_col: str, values: list, max_keys: int = 100_000
) -> DataFrame:
    """Full rows whose ``value_col`` is in ``values``, composed
    index-to-index: secondary entries → record keys (driver-side
    collect, ∝ probe selectivity) → ``lookup_many`` (zone∩bloom
    file-pruned candidate read). The base table is never scanned.

    POINT-read path: raises past ``max_keys`` resolved keys rather
    than ballooning the driver — a low-selectivity probe should use
    ``secondary_lookup_join`` (fully distributed, one semi-join
    shuffle) instead."""
    resolved = (
        secondary_lookup_keys(table, value_col, values)
        .limit(max_keys + 1)
        .collect()
    )
    if len(resolved) > max_keys:
        raise ValueError(
            f"probe resolves more than {max_keys} record keys — not a "
            "point read; use secondary_lookup_join for low-selectivity "
            "values"
        )
    keys = [r[0] for r in resolved]
    out = table.lookup_many(keys)
    # residual on the VALUE: a key may have moved to a non-probed
    # value in the same commit its old entry was tombstoned — the
    # lookup re-checks, same advisory contract as zone/bloom.
    return out.filter(F.col(value_col).isin(values))


def secondary_lookup_join(
    table: KeyedTable, value_col: str, values: list
) -> DataFrame:
    """The DISTRIBUTED form of ``secondary_lookup`` — record keys stay
    a DataFrame and semi-join the base table on the record key (one
    shuffle; AQE broadcasts the key side when small). No driver
    materialization anywhere, so a probe that matches millions of rows
    is fine; the trade is a base-table scan shaped by the key
    semi-join instead of the file-pruned multi-get."""
    key_col = table.spec.record_key[0]
    keys = secondary_lookup_keys(table, value_col, values)
    return (
        table.read()
        .join(keys, key_col, "left_semi")
        .filter(F.col(value_col).isin(values))
    )


# --- RANGE layout: band-partitioned entries for BETWEEN probes ---------------

N_BANDS = 64
# The band grid is UNBOUNDED: values outside the build-time domain get
# their own new bands (floor((v-lo)/width) on an affine grid), so a
# monotone-growing column — the reference's actual indexed shape,
# idx_create_at on an ever-advancing timestamp (db_orm.py:45-48) —
# keeps recent-window probes sharply pruned forever instead of piling
# every new commit into one clamped edge band. The grid is only capped
# at ±2^40 bands (a pure overflow guard: floor on a wild double must
# not wrap the long); occupied bands alone materialize as partition
# dirs, so dir count tracks the occupied span, not the cap.
_BAND_CAP = 1 << 40
# A probe whose band interval outgrows this skips the band IN-filter
# (full entries scan + residual — correct, just unpruned) rather than
# building a million-literal predicate.
_MAX_PROBE_BANDS = 4096


def _to_double(col: F.Column, dtype) -> F.Column:
    """Monotone value → double mapping for banding. Temporal types
    route through CAST(ts AS DOUBLE) (epoch seconds); everything else
    casts directly. Monotone non-strict is all banding needs —
    rounding at a band edge only widens the probe by one band."""
    from pyspark.sql import types as T

    if isinstance(dtype, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        return col.cast("timestamp").cast("double")
    return col.cast("double")


def _band_col(col: F.Column, dtype, lo: float, width: float) -> F.Column:
    raw = F.floor((_to_double(col, dtype) - F.lit(lo)) / F.lit(width))
    return F.least(
        F.lit(_BAND_CAP).cast("long"),
        F.greatest(F.lit(-_BAND_CAP).cast("long"), raw),
    ).cast("long")


def _range_entries_of(
    df: DataFrame, value_col: str, key_col: str, lo: float, width: float
) -> DataFrame:
    dtype = df.schema[value_col].dataType
    return df.filter(F.col(value_col).isNotNull()).select(
        _band_col(F.col(value_col), dtype, lo, width)
        .cast("string")
        .alias("band"),
        value_col,
        key_col,
    )


def build_secondary_range_index(
    table: KeyedTable, value_col: str, n_bands: int = N_BANDS
) -> None:
    """Full (re)build of the RANGE layout: one min/max pass fixes the
    affine band params (``width = span/n_bands``, frozen in
    ``_PARAMS`` so deltas band identically on the same unbounded
    grid), then the snapshot's entries land hive-partitioned by band —
    a BETWEEN probe later prunes to the overlapping band dirs and
    pushes the residual range predicate into parquet."""
    spark = table.spark
    key_col = table.spec.record_key[0]
    version = head_version(table)
    snap = table.read().filter(F.col(value_col).isNotNull())
    dtype = snap.schema[value_col].dataType
    from pyspark.sql import types as T

    if not isinstance(
        dtype, (T.NumericType, T.DateType, T.TimestampType, T.TimestampNTZType)
    ):
        # CAST(string AS DOUBLE) is null — banding would silently
        # build an index that matches nothing. Range order must be the
        # value's numeric/temporal order; use the equality layout for
        # everything else.
        raise ValueError(
            f"secondary range index requires a numeric or temporal "
            f"value column; {value_col!r} is {dtype.simpleString()}"
        )
    mm = snap.agg(
        F.min(_to_double(F.col(value_col), dtype)).alias("lo"),
        F.max(_to_double(F.col(value_col), dtype)).alias("hi"),
    ).collect()[0]
    lo = float(mm["lo"]) if mm["lo"] is not None else 0.0
    hi = float(mm["hi"]) if mm["hi"] is not None else lo
    width = (hi - lo) / n_bands
    if not width > 0.0:
        width = 1.0  # constant/empty column: every value bands to 0
    publish_build(
        spark,
        _sidecar(
            _rdir(table, value_col), table, value_col,
            n_bands=n_bands, lo=lo, width=width,
        ),
        version,
        [Part(
            "entries", _range_entries_of(snap, value_col, key_col, lo, width),
            partition_by=["band"],
        )],
    )


def refresh_secondary_range_index(
    table: KeyedTable,
    value_col: str,
    compact_threshold: int = DEFAULT_COMPACT_THRESHOLD,
) -> str:
    """Advance the range index to the table head by publishing the
    change window under the FROZEN band params (values outside the
    build-time domain open new bands on the same grid — see module
    docstring). Returns ``"noop" | "incremental" | "rebuild"``."""
    key_col = table.spec.record_key[0]
    return _refresh(
        table, value_col, _rdir(table, value_col),
        lambda: build_secondary_range_index(table, value_col),
        lambda rows, params: _range_entries_of(
            rows, value_col, key_col, params["lo"], params["width"]
        ),
        "band", compact_threshold,
    )


def attach_secondary_range_index_maintenance(
    table: KeyedTable, value_col: str
) -> None:
    table.add_maintenance_hook(lambda t: refresh_secondary_range_index(t, value_col))


def secondary_range_lookup_keys(
    table: KeyedTable, value_col: str, lo, hi
) -> DataFrame:
    """Record keys whose ``value_col`` is BETWEEN lo AND hi, served
    from the range index alone: the probe bounds map to a band
    interval through the SAME Spark band expression the writer used,
    the band IN-filter prunes partition dirs, and the residual range
    predicate pushes into the entries scan. Refuses when the sidecar
    is missing, torn, or stale."""
    spark = table.spark
    key_col = table.spec.record_key[0]
    state = consistent(spark, _rdir(table, value_col), families=("entries",))
    params = read_params(spark, _rdir(table, value_col))
    if state is None or params is None:
        raise ValueError(
            f"secondary range index on {value_col!r} missing or torn — "
            "build_secondary_range_index first"
        )
    _require_fresh(table, state, value_col, "range")
    n_bands, blo, bwidth = params["n_bands"], params["lo"], params["width"]
    dtype = table.read().schema[value_col].dataType
    # Band the EXACT probe values: _band_col widens through double
    # (temporal via timestamp) — never a narrowing cast to the column
    # dtype, which would truncate 20.5 → 20 and undershoot the band
    # interval for values in (20, 20.5].
    b_lo, b_hi = _spark_eval(
        spark,
        [lo, hi],
        lambda c: _band_col(c, dtype, blo, bwidth),
    )
    if b_lo is None or b_hi is None or b_lo > b_hi:
        raise ValueError(f"invalid range probe [{lo!r}, {hi!r}]")
    n_probe = int(b_hi) - int(b_lo) + 1
    LAST_PROBE["range_probes"] = LAST_PROBE.get("range_probes", 0) + 1
    LAST_PROBE["bands_total"] = LAST_PROBE.get("bands_total", 0) + n_bands
    LAST_PROBE["bands_probed"] = LAST_PROBE.get("bands_probed", 0) + min(
        n_probe, _MAX_PROBE_BANDS
    )
    LAST_PROBE["bands_skipped"] = max(
        0, LAST_PROBE["bands_total"] - LAST_PROBE["bands_probed"]
    )
    v = F.col(value_col)
    # Residual compares UNCAST literals (Spark promotes both sides, the
    # same coercion the plain-filter oracle gets) — casting the bound
    # to the column dtype would truncate fractional/temporal probes
    # and return rows a plain BETWEEN excludes.
    residual = (v >= F.lit(lo)) & (v <= F.lit(hi))
    if n_probe > _MAX_PROBE_BANDS:
        # A probe spanning effectively the whole occupied grid: skip
        # the band filter (a million-literal IN-list helps nothing)
        # and let the residual carry correctness over a full entries
        # scan — graceful degradation, never a wrong answer.
        entries = read_family(
            spark, _rdir(table, value_col), "entries", key_col,
            gens=state.gens["entries"],
        )
        return entries.filter(residual).select(key_col).distinct()
    bands = [str(b) for b in range(int(b_lo), int(b_hi) + 1)]
    # Band interval first, so the entries read lists only the probed
    # band dirs (occupied bands only — the grid is sparse); the band
    # IN residual below keeps pruning advisory.
    entries = read_family(
        spark,
        _rdir(table, value_col),
        "entries",
        key_col,
        gens=state.gens["entries"],
        partition_filter=("band", bands),
    )
    return (
        entries.filter(F.col("band").isin(bands) & residual)
        .select(key_col)
        .distinct()
    )


def secondary_range_lookup(
    table: KeyedTable, value_col: str, lo, hi
) -> DataFrame:
    """Full rows whose ``value_col`` is BETWEEN lo AND hi — the
    DISTRIBUTED form (a range probe is rarely a point read): resolved
    keys stay a DataFrame and semi-join the base table on the record
    key (one shuffle; AQE broadcasts the key side when small), with
    the range predicate re-checked as a residual (a key whose value
    moved out of range in the same commit its old entry was
    tombstoned must not leak through)."""
    key_col = table.spec.record_key[0]
    keys = secondary_range_lookup_keys(table, value_col, lo, hi)
    v = F.col(value_col)
    return (
        table.read()
        .join(keys, key_col, "left_semi")
        .filter((v >= F.lit(lo)) & (v <= F.lit(hi)))
    )
