"""Persisted SQ8 ANN index — similarity search as a TABLE SERVICE.

``sq8_topk`` (operators/similarity.py) retrains bounds and re-codes
the corpus on every call — right as an operator, wrong for a SERVED
workload, where a 100-TB corpus must be coded once and queries must
touch only the index. This module gives SQ8 the table-service
treatment the bloom index has: a sidecar under the table, maintained
incrementally from the lake's own commit history. Reference analog: the always-queryable Athena lake
(reference rds_to_datalake/athena.py:16-64) — an index you call, not
a job you rerun.

The sidecar under ``<table>/.annindex`` holds, in the sidecar
lifecycle (operators/sidecar.py):

- ``bounds``   one row per dimension ``(pos, lo, hi)`` — the SQ8
  codebook. Trained ONCE at build and held FIXED across refreshes
  (the served-index posture: a quantizer must not drift under its
  queries; retraining is an explicit ``build_ann_index`` rebuild).
- ``centroids`` (IVF builds only) the cell centroids, in order.
- ``codes``    a delta family, one row per record: id, ``code
  array<long>`` (8-bit codes) and ``qvec array<long>`` (the 1e-6
  fixed-point vector the exact rerank uses) — the index holds
  everything a query needs, so serving NEVER scans the base table.

All three share the build epoch, so NEW bounds can never silently
pair with OLD codes (a mixed codebook would corrupt the stage-1
approx ranking): a torn build rebuilds, and serving refuses it.
Refreshes re-code only the change window's upserts with the persisted
bounds — recoding is idempotent (same vectors, same fixed bounds →
same codes), so a replayed window converges.

Query path (``ann_index_topk``) is the same two integer-exact stages
as ``sq8_topk`` — centered int64 surrogate over codes, exact
quantized cosine rerank — so the DuckDB oracle replays it
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rds_to_datalake_project_spark.functions.localrel import local_frame

from rds_to_datalake_project_spark.operators.similarity import (
    cosine_q,
    quantize,
    sq8_code,
    sq8_train,
)
from rds_to_datalake_project_spark.operators.sidecar import (
    DEFAULT_COMPACT_THRESHOLD,
    Delta,
    Part,
    Sidecar,
    consistent,
    head_version,
    publish_build,
    read_family,
    refresh,
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


def _sidecar(table: KeyedTable, params: dict | None = None) -> Sidecar:
    """IVF mode is detected from the sidecar itself: a build with
    centroids leaves a ``centroids`` part, which then shares the
    consistency check with ``bounds`` and ``codes``."""
    ivf = table._fs.exists(f"{_idx(table)}/centroids")
    parts = ("bounds", "centroids") if ivf else ("bounds",)
    return Sidecar(_idx(table), parts=parts, families=("codes",), params=params)


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
    version = head_version(table)
    corpus = table.read()
    bounds = sq8_train(corpus, vec_col)
    cents = None if centroids is None else local_frame(
        spark,
        [(pos, cid, [float(x) for x in vec]) for pos, (cid, vec) in enumerate(centroids)],
        "pos int, cid int, cvec array<double>",
    )
    parts = [
        Part(
            "bounds",
            local_frame(
                spark,
                [(i, lo, hi) for i, (lo, hi) in enumerate(bounds)],
                "pos int, lo double, hi double",
            ),
            coalesce=1,
        ),
        # no centroids: the part goes, or a lingering dir from an
        # earlier IVF build would turn IVF mode on for this index
        Part("centroids", cents, coalesce=1),
        # IVF codes are hive-partitioned by cell: a probed query's
        # cell filter prunes whole directories, so stage-1 I/O is
        # ∝ probed cells even at 100-TB index size.
        Part(
            "codes",
            _code_rows(corpus, bounds, id_col, vec_col, centroids),
            partition_by=["cell"] if centroids is not None else None,
        ),
    ]
    params = {"id_col": id_col, "vec_col": vec_col}
    publish_build(
        spark,
        Sidecar(_idx(table), families=("codes",), params=params),
        version,
        parts,
    )
    return spark.read.parquet(f"{_idx(table)}/codes").count()


def refresh_ann_index(
    table: KeyedTable,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    drift_rebuild_ratio: float | None = None,
    drift_train_iterations: int = 5,
    compact_threshold: int = DEFAULT_COMPACT_THRESHOLD,
) -> tuple[int, int]:
    """Reconcile codes with the table's commits since the indexed
    version: deletes tombstone out, inserts/updates re-code with the
    PERSISTED bounds. Returns ``(n_recoded, n_deleted)``; a rebuild
    (unreadable bounds, other id/vector columns, or the sidecar ladder)
    reports ``(rows, 0)`` and reuses the persisted centroid list, if
    any — a full reassignment restores any fixed list as a codebook.

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
    sc = _sidecar(table, {"id_col": id_col, "vec_col": vec_col})
    ivf = "centroids" in sc.parts
    centroids = None

    def deltas(w):
        nonlocal centroids
        try:
            bounds = _read_bounds(table)
        except Exception:
            return None  # unreadable bounds: rebuild
        centroids = _read_centroids(table) if ivf else None
        if ivf and centroids is None:
            return None
        # IVF deltas keep the cell partitioning so probed queries
        # prune delta dirs too.
        return [Delta(
            "codes", _code_rows(w.upserts, bounds, id_col, vec_col, centroids),
            w.changes.select(id_col), id_col, ["cell"] if ivf else None,
        )]

    mode, out = refresh(
        table, sc,
        lambda: build_ann_index(
            table, id_col, vec_col, _read_centroids(table) if ivf else None
        ),
        deltas, compact_threshold,
    )
    if mode != "incremental":
        return (out, 0) if mode == "rebuild" else (0, 0)
    counts = out.counts()
    if ivf and drift_rebuild_ratio is not None:
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
    return counts


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
    """Enroll the index as a table service: every commit runs
    ``refresh_ann_index`` in the post-commit maintenance slot. Attach
    before the first load and that load builds the index."""
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
    AND delta parts — the merged family keeps hive pruning per leg).
    Raises when the sidecar is missing or torn: serving never mixes
    one build's codes with another's bounds."""
    sc = _sidecar(table)
    state = consistent(table.spark, sc.dir, sc.parts, sc.families)
    if state is None:
        raise ValueError("ANN index missing or torn — build_ann_index first")
    codes = read_family(
        table.spark, sc.dir, "codes", id_col, gens=state.gens["codes"]
    )
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
