"""The one lifecycle of the epoch-stamped sidecar services.

A table service (secondary equality/range index, text, LSH and ANN
indexes, sketches, table stats) keeps derived state under
``<table>/.<service>`` and follows the table from post-commit hooks.
It is advisory and rebuildable: a crash, a vacuumed base version or a
parameter change costs a rebuild, never a wrong answer. A service
supplies only what is its own — a ``Sidecar`` (directory, plain parts,
delta families, params), the ``Part`` rows it derives from a snapshot,
and the ``Delta`` rows it derives from a change window's upserts and
touched ids. This module does the rest.

Markers: ``<part>/_EPOCH`` (the build epoch, a uuid, written only
AFTER the part's parquet overwrite completes — a partial overwrite has
none), ``<family>_DELTAS`` (a family's delta chain), ``_PARAMS`` (the
build params as one JSON object; a pre-JSON layout reads as a
mismatch and rebuilds once, never misparsed) and ``_VERSION``
(``"<base-table commit version> <build epoch>"``). ``consistent``, the
one check every probe and refresh opens a sidecar through, trusts it
only when every part, delta and log bears ``_VERSION``'s epoch; else
it is torn — probes refuse, refreshes rebuild.

BUILD PUBLISH (``publish_build``): fresh epoch → every part → clear
every family's delta log → ``_PARAMS`` → ``_VERSION`` LAST. A crash
before the last write leaves the old (or no) ``_VERSION``, whose epoch
no longer matches the new parts: the next refresh rebuilds, so NEW
parts never pair with OLD ones (ANN bounds with another build's
codes) and the stamp is never fresher than reality. ``_PARAMS`` lands
first, so when the epoch chain closes the parameter record is in
place.

REFRESH LADDER (``refresh``): unversioned table, torn sidecar,
changed params or a vacuumed indexed version → rebuild; at the head →
noop; else the service turns the ``table_changes`` window into deltas,
every family's delta is published, and ``_VERSION`` advances ONCE,
after the last family. A crash between family publishes leaves
``_VERSION`` old and the window replays whole (idempotently, below);
advancing per family would stamp a half-applied window fresh — a
noop forever. State that is not replay-idempotent (sketch's turnstile
CMS) republishes merged parts through the build publish instead,
under a fresh epoch, so a half-done rewrite reads torn.

DELTA FAMILIES — refresh I/O ∝ change set, not index size. A family
is a BASE part plus an ordered chain of DELTA parts, each paired with
a TOMBSTONE part (the ids its window touched — upserts AND deletes).
A refresh writes only those two small parts, never the base. Readers
merge with generation-aware semantics:

    a row written at generation g survives iff no tombstone with
    generation > g names its id  (base rows are generation 0)

so re-publishing a window as a later generation tombstones its
earlier copy. Deltas share the BUILD's epoch (a refresh adds parts,
never re-stamps), so a crash leaves either an unreferenced orphan
(invisible; ``vacuum_family``) or a version-lagged log (replayed).
At ``compact_threshold`` deltas the chain folds into a new base.
"""

from __future__ import annotations

import json
import uuid
from functools import cached_property, reduce
from typing import Callable, NamedTuple

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


class State(NamedTuple):
    """A consistent sidecar: the base-table version it is at, its
    build epoch, and each delta family's live generations."""

    version: int
    epoch: str
    gens: dict[str, list[int]]


class Sidecar(NamedTuple):
    """What a service supplies to the lifecycle: its directory, the
    plain parts and delta families ``consistent`` checks, and the
    params it is built under (``refresh`` rebuilds unless the stored
    params contain these; None = the service keeps no params)."""

    dir: str
    parts: tuple[str, ...] = ()
    families: tuple[str, ...] = ()
    params: dict | None = None


class Part(NamedTuple):
    """One part a build (or a merged rewrite) publishes whole; rows
    None removes the part. ``checkpoint`` only when ``rows`` reads the
    directory it overwrites (see ``write_part``)."""

    name: str
    rows: DataFrame | None
    partition_by: list[str] | None = None
    coalesce: int | None = None
    checkpoint: bool = False


class Delta(NamedTuple):
    """One family's share of a change window: recomputed rows for the
    window's upserts and every touched id (upserts and deletes)."""

    family: str
    fresh: DataFrame
    touched: DataFrame
    id_col: str
    partition_by: list[str] | None = None


class Window:
    """The change window a refresh publishes: commits after
    ``state.version`` up to ``head``. ``changes`` is built on first
    use (a service may decide without it) and computed once: the
    families' delta and tombstone parts and ``counts`` all read it."""

    def __init__(self, table, state: State, head: int, params: dict | None):
        self.table, self.state, self.head, self.params = table, state, head, params

    @cached_property
    def changes(self) -> DataFrame:
        # lazy: the first part write materializes it, the rest reuse it
        return self.table.table_changes(self.state.version, self.head).localCheckpoint(
            eager=False
        )

    @property
    def upserts(self) -> DataFrame:
        return self.changes.filter(F.col("_change_type") != "delete")

    def counts(self) -> tuple[int, int]:
        """(upserted, deleted) rows of the window in one grouped job."""
        n = dict(
            self.changes.groupBy(F.col("_change_type") == "delete").count().collect()
        )
        return n.get(False, 0), n.get(True, 0)


def head_version(table) -> int:
    """The table's latest commit version (0 before any commit)."""
    return (table.versions() or [0])[-1]


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


def read_params(spark: SparkSession, index_dir: str) -> dict | None:
    """The ``_PARAMS`` object, or None when missing or not a JSON
    object (a pre-JSON layout — its refresh rebuilds)."""
    txt = fsio.read_text(spark, f"{index_dir}/_PARAMS")
    try:
        params = json.loads(txt) if txt else None
    except ValueError:
        return None
    return params if isinstance(params, dict) else None


def write_part(spark: SparkSession, index_dir: str, part: Part, epoch: str) -> None:
    """Overwrite ``<index>/<part>`` with its rows, then stamp its epoch
    marker. ``part.checkpoint`` materializes the rows first — required
    when they derive from the directory being overwritten, a wasted
    job otherwise. ``partition_by`` hive-partitions the part so
    probes' partition filters prune at the directory level (keep such
    columns STRING-typed: the engine session disables partition type
    inference, so values read back as strings). Partitioned parts are
    repartitioned ON the partition columns first — otherwise every
    write task emits a sliver into every bucket dir (tasks × buckets
    small files; a 256-bucket index from a 32-task frame would write
    ~8k files per build where 256 suffice)."""
    df, partition_by = part.rows, part.partition_by
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
    if part.checkpoint:
        df = df.localCheckpoint(eager=True)
    if part.coalesce:
        df = df.coalesce(part.coalesce)
    w = df.write.mode("overwrite").option(
        "partitionOverwriteMode", "static"  # part replace = full reset
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(f"{index_dir}/{part.name}")
    # Marker AFTER the data: a partial overwrite has no _EPOCH and the
    # next consumer rebuilds instead of trusting truncated state.
    fsio.write_text(spark, f"{index_dir}/{part.name}/_EPOCH", epoch)


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
    _write_delta_log(spark, index_dir, family, "", [])
    fs = fsio.fs_for(spark, index_dir)
    for g in old[1] if old else []:
        fs.delete(f"{index_dir}/{_delta_name(family, g)}", True)
        fs.delete(f"{index_dir}/{_tomb_name(family, g)}", True)


def consistent(
    spark: SparkSession,
    index_dir: str,
    parts: tuple[str, ...] | list[str] = (),
    families: tuple[str, ...] | list[str] = (),
) -> State | None:
    """The sidecar's ``State`` IF every plain part, every family's
    base, delta and tombstone parts, and every family's delta log
    agree on ``_VERSION``'s epoch — else None (missing or torn: probes
    refuse, refreshes rebuild)."""
    state = read_state(spark, index_dir)
    if state is None:
        return None
    version, epoch = state
    names, gens = list(parts), {}
    for family in families:
        log = read_delta_log(spark, index_dir, family)
        gens[family] = log[1] if log else []
        if gens[family] and log[0] != epoch:
            return None
        names.append(family)
        for g in gens[family]:
            names += [_delta_name(family, g), _tomb_name(family, g)]
    for p in names:
        if epoch_of(spark, index_dir, p) != epoch:
            return None
    return State(version, epoch, gens)


def read_family(
    spark: SparkSession,
    index_dir: str,
    family: str,
    id_col: str,
    gens: list[int] | None = None,
    partition_filter: tuple[str, list] | None = None,
) -> DataFrame:
    """The family's merged relation: base ∪ deltas, generation-aware
    tombstones applied. ``gens`` from ``consistent`` (pass it to
    avoid a second log read); None re-reads the log.

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
    d: Delta,
    epoch: str,
    gens: list[int],
    compact_threshold: int = DEFAULT_COMPACT_THRESHOLD,
) -> None:
    """Publish one family's share of a refresh: its fresh rows and
    touched ids as two new parts under the build epoch, then the
    generation appended to the log — O(change set), the base and prior
    deltas untouched. ``_VERSION`` is ``refresh``'s to advance, once,
    after the last family. At ``compact_threshold`` generations the
    chain folds into the base."""
    gen = (max(gens) + 1) if gens else 1
    # Not checkpointed: both parts are brand-new generation dirs the
    # plans cannot read (fresh/touched derive from the table's change
    # feed) — one write job each instead of materialize + write.
    write_part(spark, index_dir, Part(
        _delta_name(d.family, gen), d.fresh, partition_by=d.partition_by
    ), epoch)
    write_part(spark, index_dir, Part(
        _tomb_name(d.family, gen), d.touched.select(d.id_col).distinct(), coalesce=1
    ), epoch)
    new_gens = [*gens, gen]
    _write_delta_log(spark, index_dir, d.family, epoch, new_gens)
    if len(new_gens) >= compact_threshold:
        compact_family(
            spark, index_dir, d.family, d.id_col, epoch, new_gens, d.partition_by
        )


def publish_build(
    spark: SparkSession, sc: Sidecar, version: int, parts: list[Part]
) -> None:
    """The one build publish: a fresh epoch, every part, every
    family's delta log cleared, ``_PARAMS``, and ``_VERSION`` LAST
    (crash order: module docstring). ``version`` must be read BEFORE
    the snapshot the parts derive from, so the stamp is never fresher
    than the data."""
    epoch = uuid.uuid4().hex
    for p in parts:
        if p.rows is None:  # a part this build does not have
            fsio.fs_for(spark, sc.dir).delete(f"{sc.dir}/{p.name}", True)
        else:
            write_part(spark, sc.dir, p, epoch)
    # A build starts every family flat: a prior chain bears a dead
    # epoch and would read as torn forever.
    for family in sc.families:
        clear_delta_log(spark, sc.dir, family)
    if sc.params is not None:
        fsio.write_text(
            spark, f"{sc.dir}/_PARAMS", json.dumps(sc.params, sort_keys=True)
        )
    write_state(spark, sc.dir, version, epoch)


def refresh(
    table,
    sc: Sidecar,
    build: Callable[[], object],
    publish: Callable[[Window], list | None],
    compact_threshold: int = DEFAULT_COMPACT_THRESHOLD,
) -> tuple[str, object]:
    """The one refresh ladder (module docstring). ``build()`` rebuilds
    the sidecar; ``publish(window)`` turns a change window into a list
    of ``Delta`` (published per family, then ``_VERSION`` advances
    once), a list of ``Part`` (a merged rewrite under a fresh epoch,
    through ``publish_build``), ``[]`` (leave the sidecar where it
    is) or None (rebuild instead).

    Returns ``(mode, value)``: ``("rebuild", build())``,
    ``("noop", None)`` or ``("incremental", window)``."""
    spark = table.spark
    if not table.retain_versions:
        # no commit log to diff or to certify freshness against
        return "rebuild", build()
    head = head_version(table)
    state = consistent(spark, sc.dir, sc.parts, sc.families)
    stored = read_params(spark, sc.dir)
    # stored params may carry more keys than the refresh names (the
    # range index's frozen band grid)
    if (
        state is None
        or sc.params is not None and (
            stored is None or any(stored.get(k) != v for k, v in sc.params.items())
        )
        or state.version not in table.readable_versions()
    ):
        return "rebuild", build()
    if state.version >= head:
        return "noop", None
    window = Window(table, state, head, stored)
    out = publish(window)
    if out is None:
        return "rebuild", build()
    if not out:
        return "noop", None
    if isinstance(out[0], Part):
        publish_build(spark, sc._replace(params=stored), head, out)
        return "incremental", window
    for d in out:
        publish_family_delta(
            spark, sc.dir, d, state.epoch, state.gens[d.family], compact_threshold
        )
    write_state(spark, sc.dir, head, state.epoch)
    return "incremental", window


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
    merged frame is checkpointed before the base overwrite, so
    reading-while-overwriting is safe; a crash between
    the base write and the log clear leaves base rows double-covered
    by still-listed tombstones, which the generation rule resolves to
    exactly one copy (delta wins) — reads stay correct and the next
    compaction finishes the cleanup."""
    merged = read_family(spark, index_dir, family, id_col, gens)
    write_part(spark, index_dir, Part(
        family, merged, partition_by=partition_by, checkpoint=True
    ), epoch)
    clear_delta_log(spark, index_dir, family)
