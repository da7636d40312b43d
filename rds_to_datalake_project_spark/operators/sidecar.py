"""Epoch-stamped sidecar commit protocol for derived table services.

A table service (SQ8 ANN index, LSH signature index, …) persists
derived state under ``<table>/.<service>`` as a few parquet parts
plus a ``_VERSION`` marker. The parts cannot be committed in one
transaction, so every (re)build stamps one fresh EPOCH (a uuid) into
each part's ``_EPOCH`` marker (written only AFTER that part's parquet
overwrite completes — underscore files are invisible to
``spark.read.parquet``) and finally into ``_VERSION`` alongside the
base-table commit version. A consumer takes the incremental path only
when every epoch agrees with ``_VERSION``; any mismatch or missing
marker means a torn build and forces a full rebuild. Crash at any
point therefore leaves the sidecar looking STALE, never torn-but-
trusted (same conservative posture as the zone map's _SEQ/_SYNC
tokens).

DELTA FAMILIES — refresh I/O ∝ change set, not index size
---------------------------------------------------------
A "family" is one logical relation stored as a BASE part plus an
ordered chain of DELTA parts, each delta paired with a TOMBSTONE part
(the ids the delta's change window touched — upserts AND deletes).
A refresh writes ONLY its fresh rows and touched ids (two small
parts); it never rewrites the base, so at a 100-TB corpus per-commit
maintenance moves O(batch) bytes where the flat layout moved the
whole artifact. Readers merge with generation-aware semantics:

    a row written at generation g survives iff no tombstone with
    generation > g names its id  (base rows are generation 0)

which makes replays idempotent: re-publishing the same change window
as a later generation tombstones its earlier copy. The chain is
recorded in a ``<family>_DELTAS`` JSON marker carrying the build
epoch; every part in the chain must bear that epoch, so the torn-
build detection extends unchanged (``family_consistent``). Deltas
share the BUILD's epoch — a refresh adds parts, it never re-stamps
existing ones — so a crash anywhere leaves either an unreferenced
orphan (invisible) or a version-lagged log (replayed and healed by
the next refresh). When the chain reaches ``compact_threshold`` the
refresh folds base+deltas into a new base (the merged read), clears
the log, and deletes the delta dirs — full-rewrite cost amortized to
1/threshold of commits.
"""

from __future__ import annotations

import json
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rds_to_datalake_project_spark import fsio

DEFAULT_COMPACT_THRESHOLD = 8

# partition_filter pruning caps its per-value directory existence
# checks: past this many probed values a full listing + IN filter is
# cheaper than one exists() round-trip per value (only matters on
# remote schemes — native local checks are microseconds).
_MAX_PRUNED_DIRS = 128


def _existing_subdirs(
    spark: SparkSession, dir_path: str, col: str, vals: list
) -> list[str]:
    """The probed ``<col>=<val>`` subdirectories that exist, via ONE
    listing of the part dir instead of one exists() per value — on
    remote schemes a long delta chain multiplied per-value RPCs
    (up to gens × _MAX_PRUNED_DIRS round-trips per read; r12 ADVICE).
    Caller order is preserved (stable plan shape); any listing failure
    reads as 'nothing probed exists', which the caller already treats
    as the full-read / skip fallback."""
    try:
        fs = fsio.fs_for(spark, dir_path)
        names = (
            {st.getPath().getName() for st in fs.listStatus(dir_path)}
            if fs.exists(dir_path)
            else set()
        )
    except Exception:
        return []
    return [
        f"{dir_path}/{col}={v}" for v in vals if f"{col}={v}" in names
    ]


def read_state(spark: SparkSession, index_dir: str) -> tuple[int, str] | None:
    """(base-table version, build epoch) from ``_VERSION``, or None
    when missing/unparsable (pre-epoch layouts rebuild too)."""
    txt = fsio.read_text(spark, f"{index_dir}/_VERSION")
    parts = (txt or "").split()
    if len(parts) != 2:
        return None
    try:
        return int(parts[0]), parts[1]
    except ValueError:
        return None


def write_state(spark: SparkSession, index_dir: str, version: int, epoch: str) -> None:
    fsio.write_text(spark, f"{index_dir}/_VERSION", f"{version} {epoch}")


def epoch_of(spark: SparkSession, index_dir: str, part: str) -> str | None:
    txt = fsio.read_text(spark, f"{index_dir}/{part}/_EPOCH")
    return txt.strip() if txt and txt.strip() else None


def write_part(
    spark: SparkSession,
    index_dir: str,
    part: str,
    df: DataFrame,
    epoch: str,
    coalesce: int | None = None,
    partition_by: list[str] | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """Overwrite ``<index>/<part>`` with ``df``, then stamp its epoch
    marker. Returns the MATERIALIZED frame (derived-from-previous
    state is lazy — checkpoint before overwriting the directory it
    reads from; recounting the checkpoint costs no second disk
    read). ``checkpoint=False`` skips that materialization job — pass
    it ONLY when the plan provably does not read the directory being
    overwritten (e.g. a delta publish writing a brand-new generation
    dir) AND the returned frame is not re-consumed (it stays lazy).
    ``partition_by`` hive-partitions the part so consumers'
    partition filters prune at the directory level (keep such columns
    STRING-typed: the engine session disables partition type
    inference, so values read back as strings). Partitioned parts are
    repartitioned ON the partition columns first — otherwise every
    write task emits a sliver into every bucket dir (tasks × buckets
    small files; a 256-bucket index from a 32-task frame would write
    ~8k files per build where 256 suffice)."""
    if partition_by:
        # Explicit partition count: a bare repartition(cols) lets AQE
        # coalesce a small part to ONE post-shuffle partition (correct
        # by data bytes), which then pays every bucket-dir's parquet
        # writer init sequentially — 256 dirs measured seconds on one
        # task. Pinning the session's default parallelism spreads the
        # per-FILE fixed cost (a cost AQE's byte-based sizing cannot
        # see); hash clustering still sends each partition value to
        # exactly one task, so the file count per dir stays 1.
        n = max(1, spark.sparkContext.defaultParallelism)
        df = df.repartition(n, *[F.col(c) for c in partition_by])
    out = df.localCheckpoint(eager=True) if checkpoint else df
    writer = out.coalesce(coalesce) if coalesce else out
    w = writer.write.mode("overwrite").option(
        "partitionOverwriteMode", "static"  # part replace = full reset
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(f"{index_dir}/{part}")
    # Marker AFTER the data: a partial overwrite has no _EPOCH and the
    # next consumer rebuilds instead of trusting truncated state.
    fsio.write_text(spark, f"{index_dir}/{part}/_EPOCH", epoch)
    return out


def parts_consistent(
    spark: SparkSession, index_dir: str, parts: list[str]
) -> tuple[int, str] | None:
    """The (version, epoch) state IF every part's epoch matches
    ``_VERSION``'s — else None (torn build → caller rebuilds)."""
    state = read_state(spark, index_dir)
    if state is None:
        return None
    for p in parts:
        if epoch_of(spark, index_dir, p) != state[1]:
            return None
    return state


# --- delta families ---------------------------------------------------------


def _delta_name(family: str, gen: int) -> str:
    return f"{family}__d{gen:04d}"


def _tomb_name(family: str, gen: int) -> str:
    return f"{family}__t{gen:04d}"


def read_delta_log(
    spark: SparkSession, index_dir: str, family: str
) -> tuple[str, list[int]] | None:
    """(epoch, generations) from the family's delta log, or None when
    absent/unparsable. Absent = flat layout (base only), which every
    pre-delta index already has — fully back-compatible."""
    txt = fsio.read_text(spark, f"{index_dir}/{family}_DELTAS")
    if not txt:
        return None
    try:
        d = json.loads(txt)
        return str(d["epoch"]), [int(g) for g in d["gens"]]
    except (ValueError, KeyError, TypeError):
        return None


def _write_delta_log(
    spark: SparkSession, index_dir: str, family: str, epoch: str, gens: list[int]
) -> None:
    fsio.write_text(
        spark,
        f"{index_dir}/{family}_DELTAS",
        json.dumps({"epoch": epoch, "gens": gens}),
    )


def clear_delta_log(spark: SparkSession, index_dir: str, family: str) -> None:
    """Reset the family to flat layout (build/compaction) and drop the
    now-unreferenced delta dirs."""
    old = read_delta_log(spark, index_dir, family)
    fsio.write_text(
        spark, f"{index_dir}/{family}_DELTAS", json.dumps({"epoch": "", "gens": []})
    )
    fs = fsio.fs_for(spark, index_dir)
    for g in old[1] if old else []:
        fs.delete(f"{index_dir}/{_delta_name(family, g)}", True)
        fs.delete(f"{index_dir}/{_tomb_name(family, g)}", True)


def family_consistent(
    spark: SparkSession, index_dir: str, family: str, extra_parts: list[str] = ()
) -> tuple[int, str, list[int]] | None:
    """(version, epoch, delta generations) IF the base part, every
    delta/tombstone part, any ``extra_parts``, and the delta log all
    agree on ``_VERSION``'s epoch — else None (torn → rebuild)."""
    state = read_state(spark, index_dir)
    if state is None:
        return None
    version, epoch = state
    log = read_delta_log(spark, index_dir, family)
    gens = log[1] if log else []
    if gens and log[0] != epoch:
        return None
    parts = [family, *extra_parts]
    for g in gens:
        parts += [_delta_name(family, g), _tomb_name(family, g)]
    for p in parts:
        if epoch_of(spark, index_dir, p) != epoch:
            return None
    return version, epoch, gens


def read_family(
    spark: SparkSession,
    index_dir: str,
    family: str,
    id_col: str,
    gens: list[int] | None = None,
    partition_filter: tuple[str, list] | None = None,
) -> DataFrame:
    """The family's merged relation: base ∪ deltas, generation-aware
    tombstones applied. ``gens`` from ``family_consistent`` (pass it
    to avoid a second log read); None re-reads the log.

    ``partition_filter=(col, values)``: ADVISORY directory pruning for
    probe paths — each base/delta leg reads only its existing
    ``<col>=<value>`` subdirectories (existence checked natively), so
    listing + footer I/O is ∝ the probed values instead of the part's
    full directory tree (a 256-bucket part costs a 256-dir listing per
    probe otherwise — the index's own layout tax, at any scale). The
    caller MUST still apply its ``col IN values`` residual: legs fall
    back to the full read when no probed subdirectory exists (schema
    source) or past ``_MAX_PRUNED_DIRS`` values.

    Scale: the base/delta scans keep their partition pruning (a
    filter on a hive-partition column pushes into every leg of the
    union); the tombstone relation is ∝ changes since the last
    compaction, so AQE broadcasts its side of the anti-filter join.
    """
    if gens is None:
        log = read_delta_log(spark, index_dir, family)
        gens = log[1] if log else []
    if partition_filter and len(partition_filter[1]) > _MAX_PRUNED_DIRS:
        partition_filter = None

    def _leg(dir_path: str, schema=None):
        """Pruned read of one part dir, or None when the filter keeps
        nothing (caller may skip the leg iff a schema-free base is not
        needed)."""
        reader = spark.read if schema is None else spark.read.schema(schema)
        if partition_filter:
            col, vals = partition_filter
            subs = _existing_subdirs(spark, dir_path, col, vals)
            if subs:
                return reader.option("basePath", dir_path).parquet(*subs)
            if schema is not None:
                return None  # delta leg with nothing probed: skip
            # base leg must supply the schema — rare full fallback
        return reader.parquet(dir_path)

    base = _leg(f"{index_dir}/{family}")
    if not gens:
        return base
    # Deltas/tombstones read with EXPLICIT schemas (derived from the
    # base — identical by construction): a deletes-only window writes
    # an empty data part, which schema inference cannot read.
    from pyspark.sql import types as T

    tomb_schema = T.StructType([base.schema[id_col]])
    frames = [base.withColumn("__gen", F.lit(0))]
    tombs = []
    for g in sorted(gens):
        delta = _leg(f"{index_dir}/{_delta_name(family, g)}", base.schema)
        if delta is not None:
            frames.append(delta.withColumn("__gen", F.lit(g)))
        tombs.append(
            spark.read.schema(tomb_schema)
            .parquet(f"{index_dir}/{_tomb_name(family, g)}")
            .select(F.col(id_col).alias("__tid"), F.lit(g).alias("__tgen"))
        )
    rows = reduce(lambda a, b: a.unionByName(b), frames)
    latest_tomb = (
        reduce(lambda a, b: a.unionByName(b), tombs)
        .groupBy("__tid")
        .agg(F.max("__tgen").alias("__tgen"))
    )
    return (
        rows.join(latest_tomb, rows[id_col] == F.col("__tid"), "left")
        .filter(F.col("__tgen").isNull() | (F.col("__gen") >= F.col("__tgen")))
        .drop("__tid", "__tgen", "__gen")
    )


def publish_family_delta(
    spark: SparkSession,
    index_dir: str,
    family: str,
    fresh: DataFrame,
    touched_ids: DataFrame,
    id_col: str,
    version: int,
    epoch: str,
    gens: list[int],
    partition_by: list[str] | None = None,
    compact_threshold: int = DEFAULT_COMPACT_THRESHOLD,
    advance_state: bool = True,
) -> str:
    """Publish one refresh as a delta: write ``fresh`` (recomputed
    rows for the change window's upserts) and ``touched_ids`` (EVERY
    changed id — upserts and deletes) as two new parts under the
    build epoch, append the generation to the log, then advance
    ``_VERSION``. Returns ``"delta"``, or ``"compacted"`` when the
    chain hit ``compact_threshold`` and was folded into the base.

    Write cost: O(change set) — the base and prior deltas are never
    touched (same-epoch deltas need no re-stamping; see module
    docstring for the crash matrix).

    ``advance_state=False`` defers the ``_VERSION`` write: a sidecar
    holding SEVERAL families (postings + doclens) must publish each
    family's delta first and stamp the version ONCE after the last —
    otherwise a crash between publishes would leave _VERSION at the
    new version with one family missing its window, and the next
    refresh would no-op forever on half-applied state. Deferred, the
    crash leaves _VERSION old and the whole window replays (the
    generation rule makes replays idempotent)."""
    gen = (max(gens) + 1) if gens else 1
    # checkpoint=False: both parts are brand-new generation dirs the
    # plans cannot read (fresh/touched derive from the table's change
    # feed), and neither return value is consumed — one write job
    # each instead of materialize + write.
    write_part(
        spark,
        index_dir,
        _delta_name(family, gen),
        fresh,
        epoch,
        partition_by=partition_by,
        checkpoint=False,
    )
    write_part(
        spark,
        index_dir,
        _tomb_name(family, gen),
        touched_ids.select(id_col).distinct(),
        epoch,
        coalesce=1,
        checkpoint=False,
    )
    new_gens = [*gens, gen]
    _write_delta_log(spark, index_dir, family, epoch, new_gens)
    out = "delta"
    if len(new_gens) >= compact_threshold:
        compact_family(
            spark, index_dir, family, id_col, epoch, new_gens, partition_by
        )
        out = "compacted"
    if advance_state:
        write_state(spark, index_dir, version, epoch)
    return out


def vacuum_family(
    spark: SparkSession, index_dir: str, family: str
) -> list[str]:
    """Remove ORPHANED delta/tombstone dirs — parts written by a
    refresh that crashed before its log update. Orphans are invisible
    to readers (never listed) and would be overwritten when their
    generation number is reused, but until then they hold dead bytes;
    this lists the sidecar dir once and deletes every
    ``<family>__d*/__t*`` not referenced by the current log. Returns
    the removed part names."""
    log = read_delta_log(spark, index_dir, family)
    live = set()
    for g in log[1] if log else []:
        live.add(_delta_name(family, g))
        live.add(_tomb_name(family, g))
    fs = fsio.fs_for(spark, index_dir)
    if not fs.exists(index_dir):
        return []
    removed = []
    for status in fs.listStatus(index_dir):
        name = status.getPath().getName()
        if (
            status.isDirectory()
            and (
                name.startswith(f"{family}__d")
                or name.startswith(f"{family}__t")
            )
            and name not in live
        ):
            fs.delete(f"{index_dir}/{name}", True)
            removed.append(name)
    return sorted(removed)


def service_status(table) -> list[dict]:
    """Ops inventory of every sidecar service a table carries: one
    dict per hidden service directory bearing a ``_VERSION`` marker —
    service name, indexed version, table head, LAG (the number a
    monitor alarms on: secondary-index lookups REFUSE at lag > 0,
    zone/bloom merely lose pruning), and per-family delta-chain
    lengths (compaction pressure).

    Driver-side and metadata-only: one directory listing of the table
    root plus one tiny marker read per service — bounded by the number
    of attached services, never by data size. ``table`` is any object
    with ``spark``/``path``/``versions()`` (KeyedTable-shaped; duck-
    typed so this module stays import-light)."""
    spark = table.spark
    head = (table.versions() or [0])[-1]
    fs = fsio.fs_for(spark, table.path)
    if not fs.exists(table.path):
        return []
    out = []
    for st in fs.listStatus(table.path):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith(".")):
            continue
        sdir = f"{table.path.rstrip('/')}/{name}"
        state = read_state(spark, sdir)
        if state is None:
            continue  # .meta, .replica, staging — not a sidecar service
        families = {}
        for inner in fs.listStatus(sdir):
            iname = inner.getPath().getName()
            if iname.endswith("_DELTAS") and not inner.isDirectory():
                fam = iname[: -len("_DELTAS")]
                log = read_delta_log(spark, sdir, fam)
                families[fam] = len(log[1]) if log else 0
        out.append(
            {
                "service": name,
                "indexed_version": state[0],
                "head_version": head,
                "lag": max(0, head - state[0]),
                "families": families,
            }
        )
    return sorted(out, key=lambda d: d["service"])


def compact_family(
    spark: SparkSession,
    index_dir: str,
    family: str,
    id_col: str,
    epoch: str,
    gens: list[int] | None = None,
    partition_by: list[str] | None = None,
) -> None:
    """Fold base + deltas into a new base and drop the chain. The
    merged frame is checkpointed by ``write_part`` before the base
    overwrite, so reading-while-overwriting is safe; a crash between
    the base write and the log clear leaves base rows double-covered
    by still-listed tombstones, which the generation rule resolves to
    exactly one copy (delta wins) — reads stay correct and the next
    compaction finishes the cleanup."""
    merged = read_family(spark, index_dir, family, id_col, gens)
    write_part(
        spark, index_dir, family, merged, epoch, partition_by=partition_by
    )
    clear_delta_log(spark, index_dir, family)
