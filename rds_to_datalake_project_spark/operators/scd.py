"""SCD Type-2 history reconstruction from the lake's commit log.

The reference keeps only the LATEST image per record key (Hudi
copy-on-write upsert — /root/reference/glue_jobs/incremental.py);
warehouse consumers routinely need the *slowly-changing-dimension*
view instead: one row per (key, value-state) interval with
``valid_from`` / ``valid_to`` commit bounds, so facts can join the
dimension AS IT WAS (time_travel's row-level cousin, and the standard
Kimball SCD-2 shape).

``scd2_history`` derives that view purely from retained snapshots —
no extra bookkeeping at write time:

1. read each retained version (metadata-only snapshot reads,
   operators/upsert.py:read_as_of) tagged with its commit number;
2. ONE union + ONE window shuffle partitioned by record key, ordered
   by commit: a segment breaks when the tracked values change OR the
   key skips a snapshot (delete + later re-insert must NOT merge into
   one interval even if the value returns unchanged);
3. group consecutive runs → ``valid_from`` (first commit holding the
   state), ``valid_to`` (first commit where it no longer held; null
   while current), ``is_current``.

Scale posture: cost is (retained versions) × (snapshot scan) + one
key-partitioned window — retained versions are bounded small by
``retain_versions``, and the window key is the record key, so 1000
executors spread keys. No collect besides the versions list (already
driver-side metadata).
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rds_to_datalake_project_spark.operators.matview import read_cursor, write_cursor

__all__ = ["scd2_history", "pit_join"]


def scd2_history(
    table,
    value_cols: list[str],
    versions: list[int] | None = None,
) -> DataFrame:
    """SCD-2 interval table for ``table`` over its retained commits.

    Returns record-key columns + ``value_cols`` + ``valid_from``,
    ``valid_to`` (commit numbers; ``valid_to`` null while current),
    ``is_current``. State changes are detected on ``value_cols`` only.
    """
    vs = sorted(versions if versions is not None else table.readable_versions())
    if not vs:
        raise ValueError("table has no retained versions")
    keys = list(table.spec.record_key)
    snaps = []
    for pos, v in enumerate(vs):
        snaps.append(
            table.read_as_of(v)
            .select(*keys, *value_cols)
            .withColumn("__pos", F.lit(pos))
        )
    u = snaps[0]
    for s in snaps[1:]:
        u = u.unionByName(s)

    w = Window.partitionBy(*keys).orderBy("__pos")
    vals = F.struct(*[F.col(c) for c in value_cols])
    prev_vals = F.lag(vals).over(w)
    prev_pos = F.lag("__pos").over(w)
    brk = (
        prev_pos.isNull()
        | (prev_pos != F.col("__pos") - 1)  # skipped snapshot = delete gap
        | ~prev_vals.eqNullSafe(vals)
    ).cast("int")
    seg = F.sum(brk).over(
        Window.partitionBy(*keys).orderBy("__pos").rowsBetween(
            Window.unboundedPreceding, 0
        )
    )
    runs = (
        u.withColumn("__brk", brk)
        .withColumn("__seg", seg)
        .groupBy(*keys, "__seg", *value_cols)
        .agg(F.min("__pos").alias("__from_pos"), F.max("__pos").alias("__to_pos"))
    )
    # positions -> commit numbers via a tiny array literal (len = retained
    # versions); valid_to is the NEXT snapshot's commit (exclusive bound)
    varr = F.array(*[F.lit(int(v)) for v in vs])
    last_pos = len(vs) - 1
    return runs.select(
        *keys,
        *value_cols,
        F.element_at(varr, F.col("__from_pos") + 1).alias("valid_from"),
        F.when(
            F.col("__to_pos") < F.lit(last_pos),
            F.element_at(varr, F.col("__to_pos") + 2),
        ).alias("valid_to"),
        (F.col("__to_pos") == F.lit(last_pos)).alias("is_current"),
    )


def pit_join(
    facts: DataFrame,
    intervals: DataFrame,
    keys: list[str],
    as_of_col: str,
    value_cols: list[str],
    how: str = "left",
) -> DataFrame:
    """POINT-IN-TIME join: enrich each fact row with the dimension
    attributes that were valid AT the fact's own commit position —
    the feature-store-correctness join (no leakage of future
    dimension states into training rows, the reason SCD-2 intervals
    exist at all).

    ``intervals`` is an SCD-2 interval table (``scd2_history`` /
    ``Scd2Store.read()``): key columns + ``value_cols`` +
    ``valid_from`` / ``valid_to`` (half-open, ``valid_to`` null while
    current). ``facts[as_of_col]`` holds the commit position to
    resolve against; each fact matches AT MOST one interval
    (``valid_from <= as_of < coalesce(valid_to, ∞)``), so the output
    has exactly the fact cardinality under ``how='left'`` (facts
    whose key did not exist at as_of get nulls).

    Plan shape: ONE equi-join shuffle on the dimension key — Catalyst
    extracts the key equality as the join key and keeps the interval
    bounds as a post-join residual; with few intervals per key the
    residual scans a handful of rows per match. Never a range-bin
    explosion or a cartesian.
    """
    dim = intervals.select(*keys, *value_cols, "valid_from", "valid_to")
    f, d = facts.alias("__f"), dim.alias("__d")
    cond = reduce(
        operator.and_,
        [F.col(f"__f.{k}") == F.col(f"__d.{k}") for k in keys],
    )
    cond = (
        cond
        & (F.col("__d.valid_from") <= F.col(f"__f.{as_of_col}"))
        & (
            F.col("__d.valid_to").isNull()
            | (F.col(f"__f.{as_of_col}") < F.col("__d.valid_to"))
        )
    )
    return f.join(d, cond, how).select(
        "__f.*", *[F.col(f"__d.{c}") for c in value_cols]
    )


_SEQ_COL = "_scd_seq"


class Scd2Store:
    """Incrementally-maintained SCD-2 dimension table.

    ``scd2_history`` recomputes intervals from EVERY retained snapshot
    — fine ad hoc, wrong as a standing service (cost ∝ versions ×
    table). This store materializes the interval table once and then
    advances it per commit from ``table_changes`` — cost ∝ the change
    set, the same incremental contract as the matview / LSH / ANN
    services (operators/matview.py pattern: version-marker cursor,
    idempotent re-apply, stale-never-wrong post-commit hook).

    Per commit v (pre/post split images):
    - keys whose TRACKED values changed, and deletes: the current row
      (record key = base key + valid_from) is closed with
      ``valid_to = v`` — an upsert of the same record, precombine-won
      by the higher commit seq;
    - inserts and changed-value updates: a new current row opens at
      ``valid_from = v``.
    Updates that only touch untracked columns are ignored entirely,
    matching ``scd2_history``'s value_cols-only change detection.

    Re-applying a commit is idempotent (same rows, same seq), so a
    crash between upsert and marker write heals on the next refresh.
    """

    def __init__(self, base, path: str, value_cols: list[str], name: str = "scd2"):
        from rds_to_datalake_project_spark.operators.upsert import KeyedTable
        from rds_to_datalake_project_spark.schema import TableSpec

        if not base.retain_versions:
            raise ValueError(
                "Scd2Store requires a versioned base table (retain_versions > 0)"
            )
        self.base = base
        self.spark = base.spark
        self.path = path
        self.value_cols = list(value_cols)
        self.keys = list(base.spec.record_key)
        self.store = KeyedTable(
            self.spark,
            path,
            TableSpec(
                name,
                record_key=tuple(self.keys) + ("valid_from",),
                precombine_key=_SEQ_COL,
                partition_granularity="",
            ),
        )

    def _marker_path(self) -> str:
        return f"{self.path}/.scd/_BASE_VERSION"

    def refreshed_version(self) -> int | None:
        """Base commit version the store reflects (None = never built,
        unreadable, or the base was RESET since: ``initial_load``
        restarts commit numbering, so the cursor also carries the
        base's incarnation token)."""
        cur = read_cursor(self.spark, self._marker_path(), [self.base])
        return None if cur is None else cur[0]

    def _write_cursor(self, v: int) -> None:
        write_cursor(self.spark, self._marker_path(), [self.base], (v,))

    def read(self) -> DataFrame:
        return self.store.read().drop(_SEQ_COL)

    def build(self, version: int | None = None) -> int:
        """Full (re)build of the interval table as of base commit
        ``version`` (default latest). Returns the version built."""
        latest = (self.base.versions() or [0])[-1]
        v = latest if version is None else int(version)
        vs = [x for x in self.base.readable_versions() if x <= v]
        full = scd2_history(self.base, self.value_cols, versions=vs).withColumn(
            _SEQ_COL, F.lit(v).cast("long")
        )
        self.store.initial_load(full)
        self._write_cursor(v)
        return v

    def refresh(self) -> dict:
        """Advance to the base's latest commit. Full rebuild when the
        cursor is missing or expired; per-commit incremental apply
        otherwise."""
        latest = (self.base.versions() or [0])[-1]
        since = self.refreshed_version()
        if since is not None and since == latest:
            return {"mode": "noop", "base_version": latest, "commits_applied": 0}
        if since is None or since not in self.base.readable_versions():
            self.build(latest)
            return {"mode": "full", "base_version": latest, "commits_applied": 0}
        for v in range(since + 1, latest + 1):
            self._apply(v)
            self._write_cursor(v)
        return {
            "mode": "incremental",
            "base_version": latest,
            "commits_applied": latest - since,
        }

    def _apply(self, v: int) -> None:
        ch = self.base.table_changes(v - 1, v, include_preimage=True)
        keys, vals = self.keys, self.value_cols
        vstruct = F.struct(*[F.col(c) for c in vals])
        pre = ch.filter(F.col("_change_type") == "update_preimage").select(
            *keys, vstruct.alias("__pre")
        )
        post = ch.filter(F.col("_change_type") == "update_postimage").select(
            *keys, *vals, vstruct.alias("__post")
        )
        changed = pre.join(post, keys).filter(
            ~F.col("__pre").eqNullSafe(F.col("__post"))
        )
        deletes = ch.filter(F.col("_change_type") == "delete").select(*keys)
        inserts = ch.filter(F.col("_change_type") == "insert").select(*keys, *vals)

        to_close = (
            changed.select(*keys).unionByName(deletes).distinct().localCheckpoint(
                eager=True
            )
        )
        # valid_from < v: a row opened AT v must not be closed by a
        # re-application of v (crash-replay idempotence)
        cur = self.read().filter(F.col("is_current") & (F.col("valid_from") < v))
        closes = (
            cur.join(F.broadcast(to_close), keys, "left_semi")
            .withColumn("valid_to", F.lit(v).cast("int"))
            .withColumn("is_current", F.lit(False))
        )
        opens = (
            inserts.unionByName(changed.select(*keys, *vals))
            .withColumn("valid_from", F.lit(v).cast("int"))
            .withColumn("valid_to", F.lit(None).cast("int"))
            .withColumn("is_current", F.lit(True))
        )
        batch = (
            closes.unionByName(opens)
            .withColumn(_SEQ_COL, F.lit(v).cast("long"))
            .withColumn("Op", F.lit("U"))
        )
        self.store.upsert(batch)


def attach_scd2_maintenance(base, store: Scd2Store) -> None:
    """Keep the interval table fresh after every base commit — same
    advisory post-commit slot as the matview / bloom / ANN
    services: a failed refresh leaves a stale cursor, never a wrong
    interval, and the next refresh catches up."""

    def scd2_refresh(_table) -> None:
        store.refresh()

    base.add_maintenance_hook(scd2_refresh)
