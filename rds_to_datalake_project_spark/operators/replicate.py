"""Cross-lake replication from the changes feed — disaster recovery
and read-replica maintenance built from the engine's own primitives.

The reference replicates RDS → one lake and stops; operating a lake at
100 TB also needs the NEXT hop: a second region/cluster following the
first. This module turns the table's materialized CDC feed
(``KeyedTable.write_changes_feed`` — one parquet batch per commit
transition under ``feed_dir/v{k}/``) into a replica maintenance
protocol:

1. BOOTSTRAP: ``initial_load`` the replica from the source's commit-0
   snapshot (or any ``read_as_of``), record the bootstrapped version
   in the replica's ``.replica/_APPLIED`` cursor.
2. APPLY: every pending feed batch above the cursor is read in ONE
   union, mapped to the CDC envelope (``_change_type`` → ``Op``,
   ``_commit_version`` → the replica's integer precombine), and
   applied as ONE idempotent upsert with ``delete_mode="apply"`` —
   the precombine merge collapses multi-commit key histories to their
   newest state (update then delete ⇒ tombstone; delete then
   re-insert ⇒ the re-insert), so applying N batches at once equals
   applying them one by one.
3. The cursor advances only after the upsert commits; a crash between
   replays the same batches, and replay is idempotent (same rows,
   same precombine values — the engine's ST7 contract).

The replica's ``TableSpec`` must use a dedicated INTEGER precombine
column (default ``_rep_seq``) — source commit versions order the
merge; reusing a source string timestamp would order "10" < "9".

Fidelity is checked the scale-honest way: ``table_checksum``
(operators/compare.py) — one row per group moves, not the tables.

Scale: apply cost ∝ feed bytes since the cursor (the change set),
one precombine-window shuffle; bootstrap is a metadata-only snapshot
read. Feed retention (``vacuum_changes_feed``) bounds lag a replica
may recover across; a cursor below the feed floor raises rather than
silently skipping lost commits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rds_to_datalake_project_spark import fsio
from rds_to_datalake_project_spark.fsio import read_text as _read_small
from rds_to_datalake_project_spark.fsio import write_text as _write_small
from rds_to_datalake_project_spark.operators.upsert import (
    KeyedTable,
    _feed_batch_versions,
)

DEFAULT_PRECOMBINE = "_rep_seq"

# Diagnostics: cumulative feed-apply counters since reset — bench.py
# reports these next to the replication row (catch-up I/O is ∝ feed
# batches, which the wall time alone cannot attribute).
LAST_APPLY: dict = {}


def reset_apply_stats() -> None:
    LAST_APPLY.clear()


def _cursor_path(replica: KeyedTable) -> str:
    return f"{replica.path.rstrip('/')}/.replica/_APPLIED"


def applied_version(replica: KeyedTable) -> int | None:
    txt = _read_small(replica.spark, _cursor_path(replica))
    try:
        return int((txt or "").strip())
    except ValueError:
        return None


def _feed_versions(spark, feed_dir: str) -> list[int]:
    fs = fsio.fs_for(spark, feed_dir)
    return [
        v
        for v in _feed_batch_versions(fs, feed_dir)
        # partial batches are invisible
        if fs.exists(f"{feed_dir}/v{v}/_SUCCESS")
    ]


def bootstrap_replica(
    source: KeyedTable, replica: KeyedTable, as_of: int | None = None
) -> int:
    """Seed the replica from a source snapshot and set the cursor.
    Returns the bootstrapped source version."""
    v = (source.versions() or [0])[-1] if as_of is None else int(as_of)
    seq = replica.spec.precombine_key
    replica.initial_load(
        source.read_as_of(v).withColumn(seq, F.lit(v).cast("long"))
    )
    _write_small(replica.spark, _cursor_path(replica), str(v))
    return v


def apply_changes_feed(replica: KeyedTable, feed_dir: str) -> dict:
    """Advance the replica through every pending feed batch. Returns
    ``{"applied": [versions], "cursor": new_cursor}``. Raises when the
    cursor predates the feed's retained floor (lost commits must
    surface, never silently skip — re-bootstrap instead)."""
    spark = replica.spark
    cur = applied_version(replica)
    if cur is None:
        raise ValueError(
            "replica has no cursor — bootstrap_replica first"
        )
    versions = _feed_versions(spark, feed_dir)
    pending = [v for v in versions if v > cur]
    if not pending:
        return {"applied": [], "cursor": cur}
    if versions and min(versions) > cur + 1:
        raise ValueError(
            f"feed floor v{min(versions)} is past the replica cursor "
            f"v{cur} — commits were vacuumed; re-bootstrap the replica"
        )
    batch = spark.read.parquet(*[f"{feed_dir}/v{v}" for v in pending])
    replica.upsert(_to_cdc_envelope(replica, batch), delete_mode="apply")
    new_cur = max(pending)
    _write_small(spark, _cursor_path(replica), str(new_cur))
    LAST_APPLY["applies"] = LAST_APPLY.get("applies", 0) + 1
    LAST_APPLY["batches_applied"] = LAST_APPLY.get("batches_applied", 0) + len(
        pending
    )
    LAST_APPLY["cursor"] = new_cur
    return {"applied": pending, "cursor": new_cur}


def _to_cdc_envelope(replica: KeyedTable, batch: "DataFrame") -> "DataFrame":
    """Feed rows → the CDC apply envelope: ``_change_type`` becomes
    ``Op`` and ``_commit_version`` becomes the replica's integer
    precombine, so the merge collapses any multi-commit key history
    in the batch to its newest state."""
    seq = replica.spec.precombine_key
    return (
        batch.withColumn(
            "Op",
            F.when(F.col("_change_type") == "delete", "D").otherwise("U"),
        )
        .withColumn(seq, F.col("_commit_version").cast("long"))
        .drop("_change_type", "_commit_version")
    )


def _apply_stream_batch(replica: KeyedTable, batch: "DataFrame") -> None:
    """One micro-batch apply — module-level so tests can inject a
    crash between the streaming checkpoint and the table commit."""
    replica.upsert(_to_cdc_envelope(replica, batch), delete_mode="apply")


def stream_replicate(
    replica: KeyedTable,
    feed_dir: str,
    checkpoint_dir: str,
    timeout_s: int = 120,
    max_files_per_trigger: int | None = None,
) -> dict:
    """FOLLOW the source's changes feed with Structured Streaming —
    the continuous form of :func:`apply_changes_feed`: a file source
    tails ``feed_dir`` (each commit's batch is new files), and every
    micro-batch lands as ONE idempotent delete-aware upsert through
    the same CDC envelope as the batch path. ``availableNow`` drains
    everything pending and returns, so one call per tick follows a
    live source (the engine's discrete micro-batch posture, same as
    CDCTracker / RollupTable.maintain_from_feed).

    Exactly-once end to end: the streaming checkpoint records consumed
    feed FILES; a batch that fails (or a crash mid-upsert, healed by
    ``recover()``) is not checkpointed and replays on the next call,
    and the replay is a no-op through the precombine merge (ST7 —
    same rows, same commit-version precombine). The ``.replica``
    cursor advances ONLY after the drain completes — a micro-batch may
    hold a PREFIX of a commit's files (the file source slices by file,
    not by commit, under ``max_files_per_trigger``), so advancing
    mid-drain would let a crash hand the batch-mode
    ``apply_changes_feed`` a cursor past rows never applied — silent
    loss. At quiesce every file pending at start is consumed, so the
    max commit version seen is fully applied; after a mid-drain crash
    the cursor is simply old, and EITHER resume path converges (the
    stream replays from its checkpoint; the batch apply re-applies
    whole commits idempotently).

    Two deltas vs the batch path, both inherent to a file tail:
    - a commit's files may split across micro-batches, so the replica
      can transiently hold a PREFIX of a commit; it converges once the
      drain completes (run anti-entropy checksums at quiesce, not
      mid-drain);
    - a feed vacuumed past the cursor is checked at START (raises,
      like the batch path), but batches vacuumed DURING a long drain
      are the operator's race to avoid — keep feed retention above
      follower lag.

    Scale: per tick the file source lists ``feed_dir`` and reads only
    new files (I/O ∝ change set); the upsert is the engine's standard
    precombine-window shuffle over batch ∪ touched partitions. A big
    backlog (replica down for many commits) drains as ONE micro-batch
    by default — pass ``max_files_per_trigger`` to bound per-batch
    memory; ``availableNow`` honors the limit and still drains
    everything before returning, each slice checkpointed.
    """
    from pyspark.errors import AnalysisException

    spark = replica.spark
    cur = applied_version(replica)
    if cur is None:
        raise ValueError("replica has no cursor — bootstrap_replica first")
    versions = _feed_versions(spark, feed_dir)
    if versions and min(versions) > cur + 1:
        raise ValueError(
            f"feed floor v{min(versions)} is past the replica cursor "
            f"v{cur} — commits were vacuumed; re-bootstrap the replica"
        )
    if not versions:
        return {"cursor": cur, "batches": 0}  # nothing published yet
    try:
        # Schema from the NEWEST batch dir only (feed schemas are
        # uniform) — inferring over the whole retained feed would make
        # every tick's metadata I/O grow with retention, not change set.
        schema = spark.read.parquet(f"{feed_dir}/v{max(versions)}").schema
    except AnalysisException:
        return {"cursor": cur, "batches": 0}

    applied = {"batches": 0, "hi": cur}

    def _apply(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        _apply_stream_batch(replica, batch_df)
        applied["batches"] += 1
        hi = batch_df.agg(F.max("_commit_version")).collect()[0][0]
        if hi is not None:
            applied["hi"] = max(applied["hi"], int(hi))
        LAST_APPLY["stream_batches"] = LAST_APPLY.get("stream_batches", 0) + 1

    reader = spark.readStream.schema(schema).option(
        "recursiveFileLookup", "true"
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    q = (
        reader.parquet(feed_dir)
        .writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        # Returning with the query live would race the next tick on the
        # checkpoint lock; consumed batches are checkpointed, so the
        # next call resumes where this one stopped. The cursor is NOT
        # advanced — a sliced commit may be half-applied.
        q.stop()
        raise TimeoutError(
            f"feed drain exceeded {timeout_s}s; replica partially "
            "caught up — call again to resume"
        )
    # Cap at the highest _SUCCESS-complete batch listed at START: the
    # file source has no _SUCCESS gate, so a commit mid-write when the
    # query pinned its file list may be half-consumed — its version
    # must not enter the cursor until a later tick sees it complete.
    new_cur = min(applied["hi"], max(versions))
    if new_cur > cur:
        _write_small(spark, _cursor_path(replica), str(new_cur))
    LAST_APPLY["cursor"] = new_cur
    return {"cursor": new_cur, "batches": applied["batches"]}
