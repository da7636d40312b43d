"""Compaction — small-file consolidation for lake tables.

The reference's minute-granularity layout (glue_jobs/initial_load.py:
163-166; lambda sink dynamodb_stream_consumer.py:74-90) plus
2-file micro-batches (incremental_load_orchestration.py:98) produce
the classic CDC small-files problem: at 100 TB the file count, not the
byte count, kills scan planning and S3 listing. SURVEY.md §4 flags
this; the engine answers with an explicit compaction pass (the role
Hudi's file-sizing/clustering services play inside its writer).

Design:
- per-partition rewrite: each partition's rows are coalesced to
  ``ceil(partition_bytes / target_file_bytes)`` files via a
  repartition on a synthetic bucket column — no global shuffle, and
  partition values never move (the layout contract guarantees that).
- optional sort-within-partitions (z-order-lite): clustering rows by
  the record key improves min/max file skipping for key lookups.
- idempotent: re-compacting a compacted table is a no-op rewrite.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, functions as F

from rds_to_datalake_project_spark import fsio
from rds_to_datalake_project_spark.operators import commitlog
from rds_to_datalake_project_spark.operators.upsert import (
    CommitConflict,
    KeyedTable,
)


def _commit_or_conflict(table: KeyedTable, staging: str, base_token) -> None:
    """Commit a staged rewrite through the table's locked flag+publish
    path; a lost race (an upsert landed while the rewrite ran) raises
    CommitConflict — the rewrite read a superseded snapshot, and
    nothing it could publish is safe. Re-running the compaction
    against the new snapshot is the correct response."""
    if not table._commit_staging(staging, base_token):
        raise CommitConflict(
            f"a commit landed on {table.path} while the rewrite ran; "
            "re-run the compaction"
        )


def _live_bytes(table: "KeyedTable") -> int:
    """Bytes of LIVE data files only — hidden trees (.retired
    snapshots, .meta, .zonemap, staging) are pruned, so a retained
    table is not sized several-fold too large; the table's fsio
    handle, so remote paths size correctly instead of returning 0
    (which would funnel the whole table into one output file)."""
    return (fsio.live_data_size(table._fs, table.path) or (0, 0))[1]


def plan_target_files(total_bytes: int, target_file_bytes: int) -> int:
    return max(1, math.ceil(total_bytes / max(target_file_bytes, 1)))


# Position-preserving partition-tuple encoding for the per-partition
# file-count map (compact_partitions). Every segment contributes —
# nulls as a control-char marker, segments joined by a control-char
# separator; both are impossible in real values (which hive-escape on
# disk and unescape back here). A null-SKIPPING encoding (concat_ws)
# would collapse a=1/b=NULL and a=NULL/b=1 onto one key — duplicate
# create_map keys abort under mapKeyDedupPolicy=EXCEPTION, and an
# unmatched runtime key yields a NULL modulus that funnels the whole
# partition through one straggler task into a single oversized file.
_NULL_SEG = "\x00"
_SEG_SEP = "\x01"


def _partition_map_key(path_vals: list[str], unescape) -> str:
    """Hive path segment values (escaped, as listed on disk) → map key."""
    return _SEG_SEP.join(
        _NULL_SEG if v == "__HIVE_DEFAULT_PARTITION__" else unescape(v)
        for v in path_vals
    )


def _runtime_partition_key(partition_cols: list[str]) -> F.Column:
    """The same encoding built from the partition COLUMNS at runtime —
    must stay bit-identical to ``_partition_map_key`` for every
    possible partition tuple (test_scale_ops pins this)."""
    return F.concat_ws(
        _SEG_SEP,
        *[
            F.coalesce(F.col(c).cast("string"), F.lit(_NULL_SEG))
            for c in partition_cols
        ],
    )


def compact_table(
    table: KeyedTable,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_by_key: bool = True,
    cluster_by: tuple[str, ...] | None = None,
    curve: str = "hilbert",
    range_by_key: bool = False,
) -> int:
    """Rewrite the table with right-sized files; returns file count.

    ``cluster_by=(col_a, col_b[, ...])`` additionally orders rows
    along a space-filling curve of the listed columns during the
    rewrite (``curve`` ∈ {"hilbert", "zorder"}; hilbert is 2-D,
    zorder accepts any arity via the N-dim Morton interleave) — the
    clustering service Hudi/Delta run at compaction time, so
    point/range predicates on EVERY listed column get file-level
    min/max skipping after the pass.

    Sizing walks live data files through the table's fsio handle
    (local, HDFS, and object stores alike), skipping hidden trees.
    """
    table.recover()  # a crashed publish owns the next commit number
    # Base token BEFORE the read: if an upsert commits while this
    # rewrite is running, publishing the rewrite would drop that
    # commit — _publish refuses (CommitConflict) and the caller
    # re-runs the compaction against the new snapshot.
    base_token = table.commit_token()
    df = table.read()
    n_files = plan_target_files(_live_bytes(table), target_file_bytes)
    if cluster_by is not None:
        # A sort within round-robin partitions orders rows but every
        # file still spans the whole value range; real clustering
        # needs a RANGE repartition on the curve key so each output
        # file owns a contiguous curve segment (what Delta's OPTIMIZE
        # ZORDER does). Partition columns lead the range keys so hive
        # dirs stay intact and each dir's files split the curve.
        cols = list(cluster_by)
        # Scale every column onto the full curve grid first (min/max
        # from one 1-row aggregate). Raw values mod 2^bits leave the
        # occupied box misaligned with the curve's quadrants — e.g. a
        # narrow key range beside a wide one degenerates to a thin
        # strip the curve sweeps end-to-end, and range-partitioning
        # the key separates neither dimension. Normalized, the box IS
        # the grid and every curve range is a tight N-D cell.
        bounds = df.agg(
            *[
                a
                for c in cols
                for a in (
                    F.min(F.col(c).cast("double")),
                    F.max(F.col(c).cast("double")),
                )
            ]
        ).first()
        lohi = [(bounds[2 * i], bounds[2 * i + 1]) for i in range(len(cols))]

        def scaled(col: str, lo, hi, bits: int):
            if lo is None or hi is None or hi == lo:
                return F.lit(0).cast("long")
            return (
                (F.col(col).cast("double") - F.lit(lo))
                * F.lit(((1 << bits) - 1) / (hi - lo))
            ).cast("long")

        if curve == "hilbert":
            if len(cols) != 2:
                raise ValueError("hilbert clustering is 2-D; use curve='zorder'")
            from rds_to_datalake_project_spark.operators.hilbert import (
                BITS,
                hilbert_key,
            )

            key = hilbert_key(
                scaled(cols[0], *lohi[0], BITS),
                scaled(cols[1], *lohi[1], BITS),
                BITS,
            )
        elif curve == "zorder":
            from rds_to_datalake_project_spark.operators.zorder import (
                morton_key_n,
            )

            bits = min(16, 63 // len(cols))
            key = morton_key_n(
                [scaled(c, *lh, bits) for c, lh in zip(cols, lohi)], bits
            )
        else:
            raise ValueError(f"curve must be 'hilbert' or 'zorder', got {curve!r}")
        range_cols = [F.col(c) for c in table.partition_cols] + [F.col("__curve")]
        out = (
            df.withColumn("__curve", key)
            .repartitionByRange(n_files, *range_cols)
            .sortWithinPartitions(*range_cols)
            .drop("__curve")
        )
    elif range_by_key:
        # Primary-key clustering: each output file owns a contiguous
        # record-key range, so the zone map answers point lookups by
        # opening O(1) files (hash bucketing would spread every key
        # range across every file and defeat skipping).
        range_cols = [F.col(c) for c in table.partition_cols] + [
            F.col(k) for k in table.spec.record_key
        ]
        out = df.repartitionByRange(n_files, *range_cols).sortWithinPartitions(
            *range_cols
        )
    elif table.partition_cols:
        # Hash rows of each partition into n_files buckets; repartition
        # on (partition cols + bucket) keeps partition dirs intact
        # while bounding files per partition.
        bucket = (
            F.pmod(
                F.xxhash64(*[F.col(k) for k in table.spec.record_key]),
                F.lit(n_files),
            )
        ).alias("__bucket")
        out = df.select("*", bucket).repartition(
            n_files, *[F.col(c) for c in table.partition_cols], F.col("__bucket")
        ).drop("__bucket")
    else:
        out = df.repartition(n_files)
    if cluster_by is None and not range_by_key and sort_by_key:
        # (range_by_key already sorted by partition cols + record key;
        # a second sort would be pure wasted work)
        out = out.sortWithinPartitions(*table.spec.record_key)
    # Commit through the table's staged publish protocol, exactly like
    # an upsert: an in-place overwrite would clear the whole path —
    # including .meta/.retired, silently destroying the commit log and
    # every snapshot of a retained table — and had no crash story.
    # Staging inside the table dir never collides with the lazy read
    # feeding `out`, and _publish gives rename-swaps, recover(), and
    # (with retention on) a numbered, content-identical commit.
    import uuid as _uuid

    staging = f"{table.path}/.staging-{_uuid.uuid4().hex}"
    writer = out.write
    if table.partition_cols:
        writer = writer.partitionBy(*table.partition_cols)
    writer.parquet(staging)
    _commit_or_conflict(table, staging, base_token)
    return n_files


def data_file_count(path: str) -> int:
    n = 0
    for _root, _dirs, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def _leaf_partition_stats(table: KeyedTable) -> list[tuple[str, int, int]]:
    """(rel_path, n_data_files, bytes) per leaf partition dir — a
    driver-side metadata listing through the table's fsio handle
    (works on local FS, HDFS, and object stores alike), no file
    reads."""
    depth = len(table.partition_cols)
    out: list[tuple[str, int, int]] = []
    fs = table._fs

    def walk(path: str, level: int, rel: str):
        for st in sorted(
            fs.listStatus(path),
            key=lambda s: s.getPath().getName(),
        ):
            name = st.getPath().getName()
            if name.startswith((".", "_")) or not st.isDirectory():
                continue
            sub = f"{path}/{name}"
            r = f"{rel}/{name}" if rel else name
            if level == depth - 1:
                files = [
                    f
                    for f in fs.listStatus(sub)
                    if not f.isDirectory()
                    and f.getPath().getName().endswith(".parquet")
                    and not f.getPath().getName().startswith((".", "_"))
                ]
                size = sum(f.getLen() for f in files)
                out.append((r, len(files), size))
            else:
                walk(sub, level + 1, r)

    walk(table.path, 0, "")
    return out


def compact_partitions(
    table: KeyedTable,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
    only_rels: set[str] | None = None,
) -> list[str]:
    """Incremental small-file compaction: rewrite ONLY fragmented
    partitions, committed through the table's crash-safe publish
    protocol (Delta OPTIMIZE's shape: a rewrite is a commit).

    A partition is fragmented when its data-file count exceeds both
    its right-sized count (``ceil(bytes / target_file_bytes)``) and
    ``min_files``. Selected partitions are read in one pruned scan,
    re-bucketed to exactly their right-sized file counts (a literal
    rel-path → n_files map rides the plan, so each partition gets its
    OWN bucket modulus), staged like an upsert, and published by the
    same rename-swap + ready-flag machinery — so a crash at any point
    is recovered by the next ``upsert``/``recover`` and, with
    retention on, the compaction is a numbered commit whose
    row-content diff (and changes-feed batch) is empty.

    Unpartitioned tables compact the whole file set through the same
    staged publish. Returns the rel paths rewritten ([""] for the
    unpartitioned whole-table rewrite).

    Driver-side cost is one directory listing plus a map literal over
    the selected partitions — bounded by how much fragmentation one
    pass repairs, not by table size.
    """
    import uuid as _uuid

    from pyspark.sql import functions as F  # noqa: F811

    spark = table.spark
    table.recover()  # a crashed publish owns the next commit number
    base_token = table.commit_token()  # see compact_table
    if not table.partition_cols:
        files = [
            st
            for st in table._fs.listStatus(table.path)
            if not st.isDirectory()
            and st.getPath().getName().endswith(".parquet")
            and not st.getPath().getName().startswith((".", "_"))
        ]
        size = sum(st.getLen() for st in files)
        n_right = plan_target_files(size, target_file_bytes)
        if len(files) <= max(n_right, min_files):
            return []
        staging = f"{table.path}/.staging-{_uuid.uuid4().hex}"
        table.read().repartition(n_right).write.parquet(staging)
        _commit_or_conflict(table, staging, base_token)
        return [""]

    if only_rels is not None:
        # bounded pass: stat ONLY the named partition dirs (the
        # auto-compact hook passes the last commit's touched set, so
        # per-commit cost follows the commit, not the table)
        fs = table._fs
        stats = []
        for rel in sorted(only_rels):
            p = f"{table.path}/{rel}"
            if not fs.exists(p):
                continue  # vacated by deletes / dropped since
            files = [
                f
                for f in fs.listStatus(p)
                if not f.isDirectory()
                and f.getPath().getName().endswith(".parquet")
                and not f.getPath().getName().startswith((".", "_"))
            ]
            stats.append((rel, len(files), sum(f.getLen() for f in files)))
    else:
        stats = _leaf_partition_stats(table)
    plan: dict[str, int] = {}
    for rel, n_files, size in stats:
        n_right = plan_target_files(size, target_file_bytes)
        if n_files > max(n_right, min_files):
            plan[rel] = n_right
    if not plan:
        return []

    # Selected partitions only — pruned read with partition columns
    # restored from the hive paths. Partition values must round-trip
    # as the zero-padded STRINGS the layout encodes (a fresh
    # maintenance session has not run table.read() yet, and inference
    # would rewrite create_month=03 as create_month=3 — a NEW dir
    # family, duplicating every compacted row).
    spark.conf.set(
        "spark.sql.sources.partitionColumnTypeInference.enabled", "false"
    )
    # Deletion-vector mask: a compaction REWRITES these partitions, so
    # reading a victim row here would resurrect it permanently (the
    # rewrite mints new basenames the vector no longer matches).
    # Passthrough for vector-free tables.
    src = table._mask_dv(
        spark.read.option("mergeSchema", "true")
        .option("basePath", table.path)
        .parquet(*[f"{table.path}/{rel}" for rel in plan])
    )
    # rel path (as the writer escapes it) → right-sized file count.
    unescape = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName
    key_of = {
        rel: _partition_map_key(
            [seg.split("=", 1)[1] for seg in rel.split("/")], unescape
        )
        for rel in plan
    }
    n_map = F.create_map(
        *[
            x
            for rel, n in plan.items()
            for x in (F.lit(key_of[rel]), F.lit(n))
        ]
    )
    bucket = F.pmod(
        F.xxhash64(*[F.col(k) for k in table.spec.record_key]),
        F.element_at(n_map, _runtime_partition_key(table.partition_cols)),
    )
    staged = src.select("*", bucket.alias("__bucket")).repartition(
        *[F.col(c) for c in table.partition_cols], F.col("__bucket")
    ).drop("__bucket")
    staging = f"{table.path}/.staging-{_uuid.uuid4().hex}"
    staged.write.partitionBy(*table.partition_cols).parquet(staging)
    _commit_or_conflict(table, staging, base_token)
    return sorted(plan)


def migrate_partition_granularity(
    table: KeyedTable,
    new_granularity: str | None,
    dest_path: str,
    changes_feed_dir: str | None = None,
) -> KeyedTable:
    """Rewrite a table under a different partition granularity (e.g.
    the reference's minute-level layout → the engine's day default,
    SURVEY.md §4 small-files note), returning the new KeyedTable.

    One read → one partitioned write into ``dest_path`` (never in
    place: readers of the old layout are unaffected until the caller
    swaps paths/catalog entries). Partition VALUES derive from the
    same immutable source column, so no data moves between logical
    keys — only the directory sharding changes. Old derived partition
    columns are dropped and re-derived at the new granularity.
    """
    from dataclasses import replace

    from rds_to_datalake_project_spark.operators.enrich import partition_columns

    new_spec = replace(table.spec, partition_granularity=new_granularity)
    df = table.read().drop(*table.partition_cols)
    # Retention carries over (history restarts at the migrated v0 —
    # old snapshots describe the old layout and stay readable at the
    # old path until the caller drops it). The changes feed does NOT
    # silently carry: the old feed dir holds the old table's commit
    # batches, so the migrated table needs its own (pass
    # ``changes_feed_dir`` explicitly to re-arm auto-publish).
    out = KeyedTable(
        table.spark,
        dest_path,
        new_spec,
        retain_versions=table.retain_versions,
        changes_feed_dir=changes_feed_dir,
        zonemap_columns=table.zonemap_columns or None,
    )
    out.initial_load(df)
    return out


def attach_auto_compact(
    table: KeyedTable,
    max_files_per_partition: int = 16,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> None:
    """Inline small-file compaction as a post-commit table service —
    the role Hudi's inline compaction / Delta's autoCompact play:
    after every commit, touched partitions whose data-file count
    exceeds both ``max_files_per_partition`` and their right-sized
    count rewrite through the normal compaction commit, so CDC
    micro-batch fragmentation never outlives the commit that caused
    it.

    Cost per commit ∝ the TOUCHED partition set: on retained tables
    the set is the commit record's ``file_rels`` (pure metadata;
    operators/commitlog says why a vector's reach stays out);
    unversioned tables fall back to the full leaf listing.
    Advisory and failure-isolated like every maintenance hook; the
    compaction commits through the optimistic protocol, so it can
    never swallow a concurrent writer's commit (a lost race skips the
    pass — the next commit's hook retries). A reentrancy latch keeps
    the compaction commit's own maintenance pass from recursing. It is
    registered as a hook that commits to the table, so it runs after
    the concurrent services, never beside them: its commit's nested
    maintenance pass rewrites the sidecars.
    """
    state = {"active": False}

    def auto_compact(t: KeyedTable) -> None:
        if state["active"]:
            return
        state["active"] = True
        try:
            only: set[str] | None = None
            if t.retain_versions and t.partition_cols:
                vs = t.versions()
                if not vs:
                    return  # nothing committed beyond the initial load
                (newest,) = commitlog.read_range(t, vs[-1] - 1, vs[-1])
                only = set(newest.file_rels)
                if not only:
                    return
            compact_partitions(
                t,
                target_file_bytes=target_file_bytes,
                min_files=max_files_per_partition,
                only_rels=only,
            )
        except CommitConflict:
            pass  # a writer beat the rewrite; the next commit retries
        finally:
            state["active"] = False

    table.add_maintenance_hook(auto_compact, commits_to_table=True)
