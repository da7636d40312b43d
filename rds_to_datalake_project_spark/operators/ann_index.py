"""Persisted SQ8 ANN index — similarity search as a TABLE SERVICE.

``sq8_topk`` (operators/similarity.py) retrains bounds and re-codes
the corpus on every call — right as an operator, wrong for a SERVED
workload, where a 100-TB corpus must be coded once and queries must
touch only the index. This module gives SQ8 the same treatment the
zone map got (operators/upsert.py ``_maintain_zonemap``): a sidecar
under the table, maintained incrementally from the lake's own commit
history. Reference analog: the always-queryable Athena lake
(reference rds_to_datalake/athena.py:16-64) — an index you call, not
a job you rerun.

Sidecar layout under ``<table>/.annindex``:

- ``bounds``   one row per dimension ``(pos, lo, hi)`` — the SQ8
  codebook. Trained ONCE at build and held FIXED across refreshes
  (the served-index posture: a quantizer must not drift under its
  queries; retraining is an explicit ``build_ann_index`` rebuild).
- ``codes``    one row per record: id, ``code array<long>`` (8-bit
  codes) and ``qvec array<long>`` (the 1e-6 fixed-point vector the
  exact rerank uses) — the index holds everything a query needs, so
  serving NEVER scans the base table.
- ``_VERSION`` ``"<base-table commit version> <build epoch>"``.

Crash atomicity — the three writes (bounds, codes, _VERSION) are not
one transaction, so every build stamps one fresh EPOCH (a uuid) into
``bounds/_EPOCH``, ``codes/_EPOCH`` (written only AFTER the parquet
overwrite completes; underscore files are invisible to
``spark.read.parquet``) and ``_VERSION``. ``refresh_ann_index``
verifies all three epochs agree before taking the incremental path —
a crash between any two writes leaves a mismatch (or a missing
marker) and forces a full rebuild, so NEW bounds can never silently
pair with OLD codes (a mixed codebook would corrupt the stage-1
approx ranking). An unreadable codes/bounds dir falls back the same
way.

Incremental maintenance consumes ``KeyedTable.table_changes(indexed,
latest)`` — cost ∝ rows changed, not corpus size; deletes anti-join
out, upserts re-code with the persisted bounds. If the indexed
version has already been vacuumed out of the readable window the
refresh falls back to a full rebuild (correct, just not incremental).
A crash after the refresh's codes overwrite but before its _VERSION
stamp replays the same change window on the next refresh — recoding
is idempotent (same vectors, same fixed bounds → same codes), so the
replay converges.

Query path (``ann_index_topk``) is the same two integer-exact stages
as ``sq8_topk`` — centered int64 surrogate over codes, exact
quantized cosine rerank — so the DuckDB oracle replays it
bit-for-bit.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rds_to_datalake_project_spark.functions.localrel import (
    literal_frame as _literal_frame,
)

from rds_to_datalake_project_spark.operators.similarity import (
    cosine_q,
    quantize,
    sq8_code,
    sq8_train,
)
from rds_to_datalake_project_spark.operators.sidecar import (
    DEFAULT_COMPACT_THRESHOLD,
    clear_delta_log,
    epoch_of,
    family_consistent,
    publish_family_delta,
    read_family,
    read_state,
    write_part,
    write_state,
)
from rds_to_datalake_project_spark.operators.upsert import KeyedTable

_DIR = ".annindex"

# Diagnostics: CUMULATIVE IVF cell-pruning verdicts since
# reset_probe_stats() — what bench.py reports as the index's
# I/O-avoided metric.
LAST_PROBE: dict = {}


def reset_probe_stats() -> None:
    LAST_PROBE.clear()


def _idx(table: KeyedTable) -> str:
    return f"{table.path.rstrip('/')}/{_DIR}"


def _read_bounds(table: KeyedTable) -> list[tuple[float, float]]:
    rows = table.spark.read.parquet(f"{_idx(table)}/bounds").collect()
    return [(r["lo"], r["hi"]) for r in sorted(rows, key=lambda r: r["pos"])]


def _index_state(table: KeyedTable) -> tuple[int, str] | None:
    """(indexed version, build epoch), or None when missing/unparsable
    (operators/sidecar.py protocol)."""
    return read_state(table.spark, _idx(table))


def _epoch_of(table: KeyedTable, part: str) -> str | None:
    return epoch_of(table.spark, _idx(table), part)


def _code_rows(
    df: DataFrame, bounds, id_col: str, vec_col: str, centroids=None
) -> DataFrame:
    """Index rows for ``df``. With ``centroids`` each row also carries
    its IVF cell (integer-exact assignment — similarity.py
    assign_ivf_cells), so serving can prune stage 1 to probed cells."""
    cols = [
        F.col(id_col),
        sq8_code(vec_col, bounds).alias("code"),
        quantize(vec_col).alias("qvec"),
    ]
    if centroids is not None:
        from rds_to_datalake_project_spark.operators.similarity import (
            assign_ivf_cells,
        )

        df = assign_ivf_cells(df, centroids, id_col, vec_col)
        # STRING cell: the codes part is hive-partitioned by cell and
        # the engine session disables partition type inference, so the
        # value must round-trip as a string (memory: zero-padded dirs).
        cols.append(F.col("ivf_cell").cast("string").alias("cell"))
    return df.select(*cols)


def _read_centroids(table: KeyedTable) -> list[tuple[int, list[float]]] | None:
    """Persisted centroid list in its original (tie-break) order, or
    None if the part is absent/unreadable."""
    try:
        rows = table.spark.read.parquet(f"{_idx(table)}/centroids").collect()
    except Exception:
        return None
    return [
        (r["cid"], list(r["cvec"]))
        for r in sorted(rows, key=lambda r: r["pos"])
    ]


def build_ann_index(
    table: KeyedTable,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> int:
    """Full (re)build: train bounds on the current corpus, code every
    row, stamp the commit version + a fresh build epoch. Returns rows
    coded.

    ``centroids`` turns on IVF cell pruning: every code row is tagged
    with its nearest centroid (integer-exact assignment), the centroid
    list persists as a sidecar part (in order — assignment ties take
    the FIRST centroid, so order is part of the codebook), and
    ``ann_index_topk(probe_cells=N)`` scans only the N cells nearest
    the query — stage-1 cost becomes ∝ probed cells, not the corpus.
    Like the SQ8 bounds, centroids are FIXED across refreshes."""
    spark = table.spark
    epoch = uuid.uuid4().hex
    corpus = table.read()
    version = (table.versions() or [0])[-1]
    bounds = sq8_train(corpus, vec_col)
    write_part(
        spark,
        _idx(table),
        "bounds",
        _literal_frame(spark, 
            [(i, lo, hi) for i, (lo, hi) in enumerate(bounds)],
            "pos int, lo double, hi double",
        ),
        epoch,
        coalesce=1,
    )
    if centroids is not None:
        write_part(
            spark,
            _idx(table),
            "centroids",
            _literal_frame(spark, 
                [
                    (pos, cid, [float(x) for x in vec])
                    for pos, (cid, vec) in enumerate(centroids)
                ],
                "pos int, cid int, cvec array<double>",
            ),
            epoch,
            coalesce=1,
        )
    else:
        # a lingering centroids dir from an earlier IVF build would
        # look torn forever — a non-IVF build removes it outright
        table._fs.delete(f"{_idx(table)}/centroids", True)
    coded = write_part(
        spark,
        _idx(table),
        "codes",
        _code_rows(corpus, bounds, id_col, vec_col, centroids),
        epoch,
        # IVF codes are hive-partitioned by cell: a probed query's
        # cell filter prunes whole directories, so stage-1 I/O is
        # ∝ probed cells even at 100-TB index size.
        partition_by=["cell"] if centroids is not None else None,
    )
    # A rebuild resets the family to flat layout — unlink any prior
    # delta chain (its epoch is dead).
    clear_delta_log(spark, _idx(table), "codes")
    # version+epoch LAST: a crash before this leaves the old (or no)
    # marker, whose epoch no longer matches the new bounds/codes —
    # the next refresh rebuilds; never a fresher-than-reality stamp.
    write_state(spark, _idx(table), version, epoch)
    return coded.count()


def refresh_ann_index(
    table: KeyedTable,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    drift_rebuild_ratio: float | None = None,
    drift_train_iterations: int = 5,
    compact_threshold: int = DEFAULT_COMPACT_THRESHOLD,
) -> tuple[int, int]:
    """Reconcile codes with the table's commits since the last index
    version: deletes anti-join out, inserts/updates re-code with the
    PERSISTED bounds. Returns ``(n_recoded, n_deleted)`` — cost ∝ the
    change set, never the corpus. Falls back to a full rebuild when
    the indexed version is no longer reconstructible (vacuumed), no
    index exists yet, or the sidecar's epochs disagree / a dir is
    unreadable (torn build — see module docstring).

    ``drift_rebuild_ratio`` (IVF mode) arms the CENTROID-DRIFT
    trigger: centroids are deliberately fixed across refreshes
    (codebook stability), so after heavy corpus drift cell populations
    skew and probe recall decays silently. After each incremental
    refresh one tiny aggregation over the codes sidecar (k rows out)
    checks cell balance; when ``max_count > ratio * mean_count`` or
    any centroid's cell is EMPTY, the fixed-point Lloyd trainer
    (operators/ivf_train.train_ivf_centroids) re-learns k centroids
    from the live corpus and the index fully rebuilds under the new
    codebook (epoch-stamped — probes never see a mixed codebook).
    Opt-in (None = never retrain) because a rebuild changes cell
    assignments, which callers replaying the codebook externally must
    opt into."""
    spark = table.spark
    latest = (table.versions() or [0])[-1]
    state = family_consistent(spark, _idx(table), "codes", ["bounds"])
    # IVF mode is detected from the sidecar itself: a centroids part
    # whose epoch matches _VERSION. A torn centroids part (epoch
    # mismatch while bounds/codes agree) forces a rebuild REUSING the
    # persisted centroid list — any fixed list is a valid codebook as
    # long as stored cells and query probing share it, which a full
    # reassignment restores.
    centroids = _read_centroids(table)
    ivf_ok = (
        state is not None
        and centroids is not None
        and epoch_of(spark, _idx(table), "centroids") == state[1]
    )
    if centroids is not None and state is not None and not ivf_ok:
        return (build_ann_index(table, id_col, vec_col, centroids), 0)
    if state is None or state[0] not in table.readable_versions():
        return (build_ann_index(table, id_col, vec_col, centroids), 0)
    v0, epoch, gens = state
    if v0 == latest:
        return (0, 0)
    try:
        bounds = _read_bounds(table)
    except Exception:
        return (build_ann_index(table, id_col, vec_col, centroids), 0)
    changes = table.table_changes(v0, latest)
    upserts = changes.filter(F.col("_change_type") != "delete")
    fresh = _code_rows(
        upserts, bounds, id_col, vec_col, centroids if ivf_ok else None
    )
    n_up = upserts.count()
    n_del = changes.filter(F.col("_change_type") == "delete").count()
    # Delta publish: only the change window's codes + a touched-id
    # tombstone hit disk — the r8 survivors∪fresh full rewrite is gone
    # (refresh I/O ∝ batch, compaction folds every
    # DEFAULT_COMPACT_THRESHOLD refreshes). IVF deltas keep the cell
    # partitioning so probed queries prune delta dirs too.
    publish_family_delta(
        spark,
        _idx(table),
        "codes",
        fresh,
        changes.select(id_col),
        id_col,
        latest,
        epoch,
        gens,
        partition_by=["cell"] if ivf_ok else None,
        compact_threshold=compact_threshold,
    )
    if ivf_ok and drift_rebuild_ratio is not None:
        if _cells_drifted(table, centroids, drift_rebuild_ratio, id_col):
            from rds_to_datalake_project_spark.operators.ivf_train import (
                train_ivf_centroids,
            )

            retrained = train_ivf_centroids(
                table.read(),
                k=len(centroids),
                iterations=drift_train_iterations,
                id_col=id_col,
                vec_col=vec_col,
            )
            build_ann_index(table, id_col, vec_col, retrained)
    return (n_up, n_del)


def _cells_drifted(
    table: KeyedTable,
    centroids: list[tuple[int, list[float]]],
    ratio: float,
    id_col: str = "vec_id",
) -> bool:
    """One k-row aggregation over the codes sidecar: True when the
    most populated cell exceeds ``ratio`` × the mean population, or
    any centroid's cell holds ZERO codes (a probe of that cell would
    return nothing while its would-be members crowd other cells)."""
    counts = {
        r["cell"]: r["n"]
        for r in read_family(table.spark, _idx(table), "codes", id_col)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    per_cell = [counts.get(str(cid), 0) for cid, _vec in centroids]
    total = sum(per_cell)
    if total == 0:
        return False  # empty index — nothing to learn from
    if any(n == 0 for n in per_cell):
        return True
    return max(per_cell) > ratio * (total / len(per_cell))


def attach_ann_maintenance(
    table: KeyedTable,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    drift_rebuild_ratio: float | None = None,
) -> None:
    """Enroll the index as a TABLE SERVICE: every commit the table
    publishes triggers ``refresh_ann_index`` in the post-commit
    maintenance slot (KeyedTable.add_maintenance_hook — the same slot
    the zone-map reconcile runs in), so the served index follows the
    lake automatically instead of by out-of-band job. Attach before
    the first load and the hook's first run performs the initial
    ``build_ann_index`` too (refresh falls back to build when no
    index exists)."""
    table.add_maintenance_hook(
        lambda t: refresh_ann_index(
            t, id_col, vec_col, drift_rebuild_ratio=drift_rebuild_ratio
        )
    )


def ann_index_topk(
    table: KeyedTable,
    query_vec_id,
    k: int = 10,
    rerank: int = 64,
    id_col: str = "vec_id",
    probe_cells: int | None = None,
) -> DataFrame:
    """Two-stage ANN served ENTIRELY from the sidecar: stage 1 scores
    the 8-bit codes with the centered int64 surrogate and keeps the
    top ``rerank``; stage 2 reranks those rows by exact quantized
    cosine on the stored qvec. No training, no base-table scan — the
    plan is one index scan against a broadcast 1-row query, the same
    map-only + TakeOrderedAndProject shape as sq8_topk.

    ``probe_cells=N`` (IVF-built index only) restricts stage 1 to the
    N cells nearest the query — the sublinear serving path: the probe
    set is computed driver-side from the tiny centroid part with the
    SAME integer-exact distance as the stored assignment, and the cell
    filter is a partition-prunable predicate on the codes scan (base
    AND delta parts — the merged family keeps hive pruning per leg)."""
    codes = read_family(table.spark, _idx(table), "codes", id_col)
    if probe_cells is not None:
        centroids = _read_centroids(table)
        if centroids is None:
            raise ValueError(
                "probe_cells requires an index built with centroids"
            )
        qrow = codes.filter(F.col(id_col) == query_vec_id).select("qvec").collect()
        if not qrow:
            raise ValueError(f"query id {query_vec_id!r} not in index")
        qv = list(qrow[0]["qvec"])

        def _q(x: float) -> int:
            # HALF_UP (away from zero), matching Spark's F.round in
            # quantize() — Python's round() banker-rounds and would
            # disagree on .5 boundaries.
            import math

            return int(math.copysign(math.floor(abs(x) * 1_000_000 + 0.5), x))

        scored = []  # exact int distance; tie-break = centroid LIST order,
        # the same first-wins rule the stored assignment used — so the
        # query's own cell is always probe[0].
        for pos, (cid, vec) in enumerate(centroids):
            qc = [_q(x) for x in vec]
            scored.append((sum((a - b) * (a - b) for a, b in zip(qv, qc)), pos, cid))
        probe = [str(cid) for _d, _p, cid in sorted(scored)[:probe_cells]]
        LAST_PROBE["probes"] = LAST_PROBE.get("probes", 0) + 1
        LAST_PROBE["cells_total"] = (
            LAST_PROBE.get("cells_total", 0) + len(centroids)
        )
        LAST_PROBE["cells_probed"] = (
            LAST_PROBE.get("cells_probed", 0) + len(probe)
        )
        LAST_PROBE["cells_skipped"] = (
            LAST_PROBE["cells_total"] - LAST_PROBE["cells_probed"]
        )
        codes = codes.filter(F.col("cell").isin(probe))
    q = codes.filter(F.col(id_col) == query_vec_id).select(
        F.col("code").alias("__qcode"), F.col("qvec").alias("__qv")
    )
    centered = lambda a, b: (a - 128) * (b - 128)  # noqa: E731
    staged = (
        codes.crossJoin(F.broadcast(q))
        .withColumn(
            "approx_score",
            F.aggregate(
                F.zip_with(F.col("code"), F.col("__qcode"), centered),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
        .orderBy(F.col("approx_score").desc(), F.col(id_col))
        .limit(rerank)
    )
    return (
        staged.select(
            F.col(id_col),
            F.col("approx_score"),
            cosine_q(F.col("qvec"), F.col("__qv")).alias("cosine_sim"),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )
